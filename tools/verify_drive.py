"""End-to-end verify drive per .claude/skills/verify recipe."""
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from waimak_spark.session import local_session

SF = "/root/testdata/sf0.001"

spark = local_session()

out = tempfile.mkdtemp(prefix="verify_drive_")
try:
    # 1. public-API pipeline: open -> sql -> commit -> read back
    from waimak_spark import Waimak
    from waimak_spark.operators.commit import ParquetDataCommitter

    committer = ParquetDataCommitter(f"{out}/committed", snapshot_folder="v1")
    flow = (Waimak.spark_flow(spark, temp_folder=f"{out}/tmp")
            .open_file_parquet(f"{SF}/lineitem.parquet", "lineitem")
            .sql("lineitem", output="rev_by_flag",
                 query="""select l_returnflag, round(sum(l_extendedprice), 2) as rev
                    from lineitem group by l_returnflag""")
            .commit("publish", "rev_by_flag")
            .push("publish", committer))
    res = flow.execute()

    back = spark.read.parquet(f"{out}/committed/rev_by_flag/v1")
    got = {r.l_returnflag: r.rev for r in back.collect()}
    exp = dict(duckdb.sql(
        f"""select l_returnflag, round(sum(l_extendedprice), 2)
            from '{SF}/lineitem.parquet' group by l_returnflag""").fetchall())
    assert got == exp, (got, exp)
    print("PIPELINE+COMMIT OK", got)

    # 2. driver contract
    import __spark_entry__ as entry

    df = entry.entry(spark)
    n = df.count()
    assert n >= 0 and len(df.schema) > 0
    print("ENTRY OK rows=", n)

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"create view {t} as select * from '{SF}/{t}.parquet'")
    qs, osql = entry.queries(), entry.oracle_sql()
    # The oracle loop covers EVERY catalog entry with an oracle (ADVICE r3:
    # a manual allowlist silently misses new entries).  EXCLUDE is for
    # entries that genuinely can't run at sf0.001 here; keep it documented
    # and empty unless there's a concrete reason.
    EXCLUDE: set[str] = set()
    for k in [n for n in qs if n in osql and n not in EXCLUDE]:
        def norm(x):
            import numpy as np
            if x is None or (isinstance(x, float) and x != x):
                return "NULL"
            if isinstance(x, float):
                return "0" if x == 0 else f"{x:.6g}"  # -0.0 == 0.0
            # array columns: Spark collect gives list, DuckDB->pandas gives
            # np.ndarray — str() diverges even on identical values, so
            # canonicalize element-wise (judge hit this on
            # embedding_centroids in r3)
            if isinstance(x, (list, tuple, np.ndarray)):
                return "[" + ",".join(norm(v) for v in x) + "]"
            if isinstance(x, np.generic):
                return norm(x.item())
            return str(x)

        sdf = qs[k](spark, SF)
        cols = sorted(sdf.columns)
        srows = sorted([tuple(norm(x) for x in r)
                        for r in sdf.select(*cols).collect()])
        ores = con.execute(osql[k]).fetch_arrow_table().to_pandas()
        orows = sorted([tuple(norm(x) for x in r)
                        for r in ores[cols].itertuples(index=False)])
        assert len(srows) == len(orows), (k, len(srows), len(orows))
        mism = sum(1 for a, b in zip(srows, orows) if a != b)
        assert mism == 0, (k, "value mismatch", srows[:2], orows[:2])
        print("ORACLE OK", k, len(srows))

    # 3. error paths — assert the SPECIFIC validation exception + message
    # (ADVICE r3: the old checks TypeError'd on a bad kwarg before any
    # validation ran and matched on a single letter)
    from waimak_spark.dataflow.exceptions import FlowValidationException

    try:
        (Waimak.spark_flow(spark, temp_folder=f"{out}/tmp2")
         .open_file_parquet(f"{SF}/lineitem.parquet", "lineitem")
         .alias("lineitem", "x").alias("lineitem", "x").execute())
        raise AssertionError("duplicate label accepted")
    except FlowValidationException as e:
        assert "produced by more than one action" in str(e), e
        print("DUP LABEL REFUSED OK")

    try:
        (Waimak.spark_flow(spark, temp_folder=f"{out}/tmp3")
         .sql("missing_label", output="y", query="select 1").execute())
        raise AssertionError("missing dependency accepted")
    except FlowValidationException as e:
        assert "no action produces and no input provides" in str(e), e
        print("MISSING DEP REFUSED OK")

    # clustered write through the public flow API
    (Waimak.spark_flow(spark, temp_folder=f"{out}/tmp4")
     .open_file_parquet(f"{SF}/orders.parquet", "orders")
     .write_clustered_parquet(f"{out}/cl", "orders",
                              cluster_cols=["o_orderkey"], num_partitions=4)
     .execute())
    n_back = spark.read.parquet(f"{out}/cl/orders").count()
    n_src = duckdb.sql(f"select count(*) from '{SF}/orders.parquet'").fetchone()[0]
    assert n_back == n_src, (n_back, n_src)
    print("CLUSTERED WRITE OK", n_back)

    print("VERIFY DRIVE: ALL OK")
finally:
    shutil.rmtree(out, ignore_errors=True)
    spark.stop()
