"""Full driver-contract replay at sf0.01 — the verify skill's recipe.

Runs every queries() entry on a vanilla local[32] session and compares
against oracle_sql() via DuckDB exactly as the grading driver does.
Prints `RESULT OK <name>` per entry and a final `RESULT SUMMARY` line.
"""
import sys, traceback

sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
import importlib, duckdb

m = importlib.import_module("__spark_entry__")
spark = (
    SparkSession.builder.master("local[32]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
# ANSI posture proof (VERDICT r11 item 6): this replay runs on a vanilla
# session, and Spark 4 defaults spark.sql.ansi.enabled=true — so every
# oracle-parity pass in this log IS the ANSI sweep. Stamp the live value
# so the committed log carries the evidence, and refuse to certify a
# replay that something quietly switched to legacy mode.
_ansi = spark.conf.get("spark.sql.ansi.enabled")
print(f"RESULT ANSI spark.sql.ansi.enabled={_ansi}", flush=True)
assert _ansi == "true", "replay must run under ANSI mode (Spark 4 default)"
print("entry rows:", m.entry(spark).count(), flush=True)
sf = "/root/testdata/sf0.01"
con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
from etl_tj_project_spark.cache import cache_scope
from tests.oracle_compare import compare

q, o = m.queries(), m.oracle_sql()
fails = []
for name, fn in q.items():
    # One cache scope per entry: the frames an entry's builder caches
    # are read by its comparison and released right after it, so the
    # session's cache stays flat across the replay.
    try:
        with cache_scope(spark):
            sdf = fn(spark, sf)
            if name in o:
                compare(sdf, con, o[name])
            else:
                sdf.collect()
        print("RESULT OK", name, flush=True)
    except Exception as e:
        fails.append(name)
        print("RESULT FAIL", name, repr(e), flush=True)
        traceback.print_exc()
print(f"RESULT SUMMARY fails: {len(fails)} of {len(q)} -> {fails}", flush=True)
