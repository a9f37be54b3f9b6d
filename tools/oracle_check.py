import duckdb, json, sys, glob

outdir = sys.argv[1] if len(sys.argv) > 1 else '/tmp/verify_out'
sfdir = sys.argv[2] if len(sys.argv) > 2 else '/root/testdata/sf0.001'
oracle = json.load(open(f'{outdir}/oracle_sql.json'))
con = duckdb.connect()
# register tables
for t in ['region','nation','customer','supplier','part','orders','lineitem','events','documents','embeddings']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sfdir}/{t}.parquet')")

ok = 0
for name, sql in sorted(oracle.items()):
    try:
        exp = con.execute(sql).fetchdf()
    except Exception as e:
        print(f'{name}: ORACLE SQL ERROR: {e}'); continue
    try:
        act = duckdb.connect().execute(f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')").fetchdf()
    except Exception as e:
        print(f'{name}: ACTUAL READ ERROR: {e}'); continue
    ec = sorted(exp.columns); ac = sorted(act.columns)
    if ec != ac:
        print(f'{name}: SCHEMA MISMATCH exp={ec} act={ac}'); continue
    exp = exp[ec].sort_values(ec).reset_index(drop=True)
    act = act[ec].sort_values(ec).reset_index(drop=True)
    if len(exp) != len(act):
        print(f'{name}: ROWCOUNT exp={len(exp)} act={len(act)}'); continue
    if exp.equals(act):
        ok += 1
        print(f'{name}: OK ({len(exp)} rows)')
    else:
        neq = (exp != act) & ~(exp.isna() & act.isna())
        bad = neq.any(axis=1)
        print(f'{name}: VALUE MISMATCH {bad.sum()} rows differ of {len(exp)}')
        print('expected:'); print(exp[bad].head(3))
        print('actual:'); print(act[bad].head(3))

# a gate: any query that is not OK fails the check
print(f'{ok}/{len(oracle)} OK')
sys.exit(0 if ok == len(oracle) else 1)
