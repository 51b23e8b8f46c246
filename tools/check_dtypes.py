import os
import sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb, pandas as pd
import __spark_entry__ as em
from dea_conflux_spark.config import get_spark
sf = "/root/testdata/sf0.001"
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
spark = get_spark(cpus=8)
bad = 0
for name, fn in em.queries().items():
    o = em.oracle_sql().get(name)
    if not o:
        continue
    try:
        g = fn(spark, sf).limit(0).toPandas()
        e = con.execute(f"SELECT * FROM ({o}) LIMIT 0").df()
    except Exception as ex:
        print("ERR", name, type(ex).__name__, str(ex)[:200]); bad += 1; continue
    gd = {c: str(g[c].dtype) for c in sorted(g.columns)}
    ed = {c: str(e[c].dtype) for c in sorted(e.columns)}
    if gd != ed:
        diff = {c: (gd.get(c), ed.get(c)) for c in set(gd)|set(ed) if gd.get(c)!=ed.get(c)}
        print("DTYPE-DIFF", name, diff)
        bad += 1
print("dtype diffs:", bad)
spark.stop()
