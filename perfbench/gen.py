"""Seeded input generator for the KG workloads.

Writes only the `documents` table (doc_id, text, lang, source, n_chars) that
`graft.pipeline.Transcripts` turns into conversation turns. doc_ids start at
0, so the seeded malformed documents (doc_id % 65 == 63) and the doc-11
celebrity hub appear at every size.

Parameters per workload (see WORKLOADS):
  docs       number of documents
  words      (min, max) words of filler prose per document
  universe   number of distinct `Customer#<id>` entities added to the prose
             (0: the prose holds only the engine's fixed mentions)
  per_doc    entity mentions added to each document
  skew       Zipf exponent of the entity draw (rank r has weight 1 / r^skew)
  forms      surface forms of an entity id: "padded" is `Customer#%09d`,
             "plain" is `Customer#%d`; each mention picks one at random

Single process, single thread, deterministic per seed: the same seed gives
byte-identical parquet files.

Usage: python3 perfbench/gen.py --workload kg_link --seed 1 --out DIR
"""
import argparse
import bisect
import itertools
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = {
    # many documents, only the fixed mentions: transcripts, parse and
    # materialize do the work; linking and CC see ~1.1k mentions
    "kg_bulk": dict(docs=10000, words=(20, 60), universe=0, per_doc=0,
                    skew=0.0, forms=()),
    # fewer documents, a skewed draw of padded + plain customer mentions:
    # the shared-shingle join in Linking.jaccardEdges does the work
    "kg_link": dict(docs=2400, words=(20, 60), universe=6000, per_doc=6,
                    skew=0.6, forms=("padded", "plain")),
}

VOCAB = ("key agg row scan slow fast table value part hash merge batch data "
         "window line sort column join small big filter group order query "
         "stream spark vector customer a the of and").split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_WEIGHTS = (0.41, 0.15, 0.14, 0.15, 0.15)
SOURCES = 20
FILES = 8
FIRST_ENTITY_ID = 100  # above the engine's fixed Customer#0..49 mentions

SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                    ("lang", pa.string()), ("source", pa.string()),
                    ("n_chars", pa.int64())])


def _mention(eid, form):
    return f"Customer#{eid:09d}" if form == "padded" else f"Customer#{eid}"


def generate(workload, seed, out_dir):
    """Write `out_dir/documents.parquet/part-*.parquet`; return the params."""
    p = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    ids = list(range(FIRST_ENTITY_ID, FIRST_ENTITY_ID + p["universe"]))
    rng.shuffle(ids)  # rank -> entity id, so hot ids are spread over the range
    cum = list(itertools.accumulate(1.0 / (r ** p["skew"]) for r in range(1, len(ids) + 1)))
    lang_cum = list(itertools.accumulate(LANG_WEIGHTS))

    cols = {name: [] for name in SCHEMA.names}
    for doc_id in range(p["docs"]):
        words = rng.choices(VOCAB, k=rng.randint(*p["words"]))
        for _ in range(p["per_doc"]):
            rank = bisect.bisect_left(cum, rng.random() * cum[-1])
            words.insert(rng.randrange(len(words) + 1),
                         _mention(ids[min(rank, len(ids) - 1)], rng.choice(p["forms"])))
        text = " ".join(words)
        cols["doc_id"].append(doc_id)
        cols["text"].append(text)
        cols["lang"].append(LANGS[bisect.bisect_left(lang_cum, rng.random() * lang_cum[-1])])
        cols["source"].append(f"src{rng.randrange(SOURCES)}")
        cols["n_chars"].append(len(text))

    table = pa.table(cols, schema=SCHEMA)
    path = os.path.join(out_dir, "documents.parquet")
    os.makedirs(path, exist_ok=True)
    per_file = -(-p["docs"] // FILES)
    for i in range(FILES):
        pq.write_table(table.slice(i * per_file, per_file),
                       os.path.join(path, f"part-{i:05d}.parquet"),
                       compression="snappy", store_schema=False)
    return dict(p, workload=workload, seed=seed)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(generate(a.workload, a.seed, a.out))


if __name__ == "__main__":
    main()
