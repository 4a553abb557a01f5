"""RDBM ingestion: verbatim SQL-generation unit tests (scenarios ported
from TestRDBMExtractor.scala), temporal snapshot kernel semantics, and a
stub-JDBC end-to-end extraction into the storage layer."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from waimak_spark.rdbm import (
    IncorrectUserPKException,
    PKsNotFoundOrProvidedException,
    SQLServerTemporalTableMetadata,
    TableExtractionMetadata,
    snapshot_temporal_table_dataset,
    lower_case_all,
)
from waimak_spark.rdbm.extractor import SQLServerExtractor
from waimak_spark.rdbm.sqlgen import (
    escape_sqlserver,
    resolve_last_updated,
    select_query,
    split_points_query,
    split_points_to_predicates,
    temporal_from_query_part,
    temporal_select_query,
)

TS = "2018-05-01 09:11:12.0"
META = TableExtractionMetadata("dbo", "table_a", ["table_a_pk"],
                               "table_a_last_updated")
META_NO_LU = TableExtractionMetadata("dbo", "table_a", ["table_a_pk"], None)
META_COMPOSITE = TableExtractionMetadata("dbo", "table_a", ["pk1", "pk2"],
                                         "table_a_last_updated")


class TestSelectQuery:
    def _q(self, meta, lu, cols=()):
        return select_query(meta, lu, cols, "CURRENT_TIMESTAMP",
                            escape_sqlserver)

    def test_full_select_without_last_updated_column(self):
        assert self._q(META_NO_LU, TS) == (
            "(select *, CURRENT_TIMESTAMP as system_timestamp_of_extraction "
            "from [dbo].[table_a]) s")

    def test_full_select_when_last_updated_not_set(self):
        assert self._q(META, None) == (
            "(select *, CURRENT_TIMESTAMP as system_timestamp_of_extraction "
            "from [dbo].[table_a]) s")

    def test_incremental_select_with_watermark(self):
        assert self._q(META, TS) == (
            "(select *, CURRENT_TIMESTAMP as system_timestamp_of_extraction "
            "from [dbo].[table_a] "
            f"where [table_a_last_updated] > '{TS}') s")

    def test_explicit_select_columns(self):
        assert self._q(META, TS, ["ValidFrom", "ValidTo"]) == (
            "(select *, ValidFrom,ValidTo,"
            "CURRENT_TIMESTAMP as system_timestamp_of_extraction "
            "from [dbo].[table_a] "
            f"where [table_a_last_updated] > '{TS}') s")


class TestSplitPoints:
    def test_split_points_query_with_watermark(self):
        # _row_num travels with the point so the client can restore PK
        # order numerically (derived-table row order is engine-dependent;
        # an ORDER BY here would be illegal on SQL Server)
        assert split_points_query(META, TS, 15, escape_sqlserver) == (
            "(\n"
            "select split_point, _row_num from (\n"
            "select [table_a_pk] as split_point, "
            "row_number() over (order by [table_a_pk]) as _row_num\n"
            f"from [dbo].[table_a] where [table_a_last_updated] > '{TS}'\n"
            ") ids where _row_num % 15 = 0) s")

    def test_split_points_query_composite_pk(self):
        q = split_points_query(META_COMPOSITE, None, 15, escape_sqlserver)
        assert "CONCAT([pk1],'-',[pk2]) as split_point" in q
        assert "order by [pk1],[pk2]" in q

    def test_predicates_from_points(self):
        preds = split_points_to_predicates(["5", "7", "9"], META,
                                           escape_sqlserver)
        assert preds == [
            "[table_a_pk] >= '5' and [table_a_pk] < '7'",
            "[table_a_pk] >= '7' and [table_a_pk] < '9'",
            "[table_a_pk] < '5'",
            "[table_a_pk] >= '9'",
        ]

    def test_single_point_gives_endpoints_only(self):
        preds = split_points_to_predicates(["5"], META, escape_sqlserver)
        assert preds == ["[table_a_pk] < '5'", "[table_a_pk] >= '5'"]

    def test_no_points_gives_none(self):
        assert split_points_to_predicates([], META, escape_sqlserver) is None


TEMPORAL = SQLServerTemporalTableMetadata(
    "dbo", "table_a", ["pk"], None, "dbo", "table_a_history",
    "ValidFrom", "ValidTo")


class TestTemporalQueries:
    def test_delta_query_uses_system_time_and_validity_filter(self):
        q = temporal_from_query_part(TEMPORAL, TS, escape_sqlserver)
        assert "for SYSTEM_TIME from '2018-05-01 09:11:12.0' to '9999-12-31'" in q
        assert ("where ([ValidTo] < '9999-12-31 23:59:59' "
                f"and [ValidTo] >= '{TS}')") in q
        assert f"or [ValidFrom] >= '{TS}'" in q

    def test_full_history_query_without_watermark(self):
        q = temporal_from_query_part(TEMPORAL, None, escape_sqlserver)
        assert "for SYSTEM_TIME from '1900-01-01' to '9999-12-31'" in q

    def test_non_temporal_plain_from(self):
        meta = SQLServerTemporalTableMetadata("dbo", "plain", ["pk"])
        assert temporal_from_query_part(meta, TS, escape_sqlserver) == \
            "from [dbo].[plain]"

    def test_select_adds_source_type(self):
        q = temporal_select_query(TEMPORAL, None, (), "CURRENT_TIMESTAMP",
                                  escape_sqlserver)
        assert ("source_type = case when [ValidTo] = "
                "'9999-12-31 23:59:59' then 0 else 1 end") in q
        # no last-updated column → extraction timestamp gets selected
        assert "system_timestamp_of_extraction" in q


class TestWatermark:
    def test_offset_subtracted(self):
        out = resolve_last_updated(datetime(2018, 5, 1, 9, 0, 0), 60)
        assert out == datetime(2018, 5, 1, 8, 59, 0)

    def test_clamped_to_sqlserver_lower_bound(self):
        out = resolve_last_updated(datetime(1800, 1, 1), 0,
                                   "1900-01-01 00:00:00")
        assert out == datetime(1900, 1, 1)

    def test_none_passthrough(self):
        assert resolve_last_updated(None, 60) is None


class TestTemporalSnapshotKernel:
    ROWS = "pk int, v string, ValidFrom timestamp, ValidTo timestamp"
    HI = datetime(9999, 12, 31, 23, 59, 59)

    def _df(self, spark):
        T = datetime
        return spark.createDataFrame([
            # pk=1: two versions, live
            (1, "a1", T(2018, 1, 1), T(2018, 2, 1)),
            (1, "a2", T(2018, 2, 1), self.HI),
            # pk=2: deleted at 2018-03-01
            (2, "b1", T(2018, 1, 1), T(2018, 3, 1)),
            # pk=3: collision rows (start == end) must not mask the live row
            (3, "c0", T(2018, 1, 5), T(2018, 1, 5)),
            (3, "c1", T(2018, 1, 1), self.HI),
            # pk=4: created after the snapshot ts
            (4, "d1", T(2019, 1, 1), self.HI),
        ], self.ROWS)

    def test_snapshot_detects_deletes_and_collisions(self, spark):
        snap = snapshot_temporal_table_dataset(
            self._df(spark), datetime(2018, 6, 1), TEMPORAL._replace_pk(["pk"])
            if hasattr(TEMPORAL, "_replace_pk") else
            SQLServerTemporalTableMetadata("dbo", "t", ["pk"], None, "dbo",
                                           "t_h", "ValidFrom", "ValidTo"))
        got = {r["pk"]: r["v"] for r in snap.collect()}
        # pk=1 live latest version; pk=2 deleted; pk=3 collision resolved
        # toward existence; pk=4 not yet created
        assert got == {1: "a2", 3: "c1"}

    def test_snapshot_before_delete_sees_row(self, spark):
        meta = SQLServerTemporalTableMetadata("dbo", "t", ["pk"], None, "dbo",
                                              "t_h", "ValidFrom", "ValidTo")
        snap = snapshot_temporal_table_dataset(
            self._df(spark), datetime(2018, 2, 15), meta)
        got = {r["pk"]: r["v"] for r in snap.collect()}
        assert got == {1: "a2", 2: "b1", 3: "c1"}

    def test_non_temporal_raises(self, spark):
        meta = SQLServerTemporalTableMetadata("dbo", "t", ["pk"])
        with pytest.raises(ValueError, match="non-temporal"):
            snapshot_temporal_table_dataset(self._df(spark),
                                            datetime(2018, 1, 1), meta)


class TestLowerCaseAll:
    def test_lowercases_all_columns(self, spark):
        df = spark.createDataFrame([("AbC", "DeF")], "x string, y string")
        row = lower_case_all(df).collect()[0]
        assert (row["x"], row["y"]) == ("abc", "def")


class _StubExtractor(SQLServerExtractor):
    """JDBC boundary replaced with in-memory frames."""

    def __init__(self, spark, frame, pk_rows, split_values=(3, 6)):
        super().__init__(spark, "jdbc:sqlserver://stub")
        self._frame = frame
        self._pk_rows = pk_rows
        self._split_values = split_values
        self.queries: list[str] = []
        self.predicates = None

    def _read_jdbc(self, table_or_query, predicates=None):
        self.queries.append(table_or_query)
        self.predicates = predicates
        if "split_point" in table_or_query:
            # deliver the points in REVERSED order: derived-table row order
            # is engine-dependent, and the extractor must restore PK order
            # via the numeric _row_num, not the arrival order
            pts = [(str(v), i + 1)
                   for i, v in enumerate(self._split_values)]
            return self._frame.sparkSession.createDataFrame(
                list(reversed(pts)), "split_point string, _row_num long")
        if "sys.tables" in table_or_query or "pg_class" in table_or_query:
            return self._pk_rows
        return self._frame


class TestStubExtraction:
    def _pk_frame(self, spark):
        return spark.createDataFrame(
            [("dbo", "items", "id")],
            "schemaName string, tableName string, primaryKeys string")

    def test_metadata_validation(self, spark):
        frame = spark.createDataFrame([(1, "x")], "id int, v string")
        ex = _StubExtractor(spark, frame, self._pk_frame(spark))
        info = ex.get_table_metadata("dbo", "items", None, "updated")
        assert info.primary_keys == ["id"]
        assert info.retain_history is True  # has last-updated column
        with pytest.raises(IncorrectUserPKException):
            ex.get_table_metadata("dbo", "items", ["wrong"], None)
        ex_nopk = _StubExtractor(
            spark, frame,
            spark.createDataFrame(
                [("dbo", "other", "id")],
                "schemaName string, tableName string, primaryKeys string"))
        with pytest.raises(PKsNotFoundOrProvidedException):
            ex_nopk.get_table_metadata("dbo", "items", None, None)

    def test_extraction_stamps_last_updated_and_partitions(self, spark):
        frame = spark.createDataFrame(
            [(1, "x", datetime(2020, 1, 1))],
            "id int, v string, updated timestamp")
        ex = _StubExtractor(spark, frame, self._pk_frame(spark))
        meta = TableExtractionMetadata("dbo", "items", ["id"], "updated")
        df = ex.get_table_dataset(meta.to_meta(), None,
                                  max_rows_per_partition=3)
        assert "rdbm_record_last_updated" in df.columns
        row = df.collect()[0]
        assert row["rdbm_record_last_updated"] == datetime(2020, 1, 1)
        # split predicates were generated from the stubbed points
        assert ex.predicates == [
            "[id] >= '3' and [id] < '6'", "[id] < '3'", "[id] >= '6'"]

    def test_numeric_split_points_keep_db_order(self, spark):
        """Numeric PKs whose string order differs from numeric order
        (5,9,10 → '10','5','9' when string-sorted) must keep the
        DB-returned order, else the predicates overlap and partitioned
        extraction silently duplicates rows (RDBMExtractor.scala:247-253
        never re-sorts)."""
        frame = spark.createDataFrame(
            [(1, "x", datetime(2020, 1, 1))],
            "id int, v string, updated timestamp")
        ex = _StubExtractor(spark, frame, self._pk_frame(spark),
                            split_values=(5, 9, 10))
        meta = TableExtractionMetadata("dbo", "items", ["id"], "updated")
        ex.get_table_dataset(meta.to_meta(), None, max_rows_per_partition=2)
        assert ex.predicates == [
            "[id] >= '5' and [id] < '9'",
            "[id] >= '9' and [id] < '10'",
            "[id] < '5'", "[id] >= '10'"]


class TestRdbmFlowActions:
    """The RDBM flow actions end to end over a stub JDBC boundary: two
    incremental extractions into storage, then both snapshot paths."""

    T0 = datetime(2020, 1, 1, 12, 0, 0)
    OFFSET_S = 60

    def _ingest(self, spark, ex, storage, extract_dt):
        from waimak_spark import Waimak
        from waimak_spark.rdbm.actions import (RDBMExtractionTableConfig,
                                               extract_to_storage_from_rdbm)

        flow = Waimak.spark_flow(spark, f"{storage}_tmp")
        config = RDBMExtractionTableConfig(
            "items", pk_cols=["id"], last_updated_column="updated")
        flow = extract_to_storage_from_rdbm(
            flow, ex, "dbo", storage, {"items": config},
            extract_dt=extract_dt, last_updated_offset=self.OFFSET_S,
            table_names=["items"])
        executed, _final = flow.execute()
        return [a.name for a in executed]

    def test_incremental_runs_then_snapshots(self, spark, tmp_path):
        from datetime import timedelta

        from waimak_spark import Waimak
        from waimak_spark.rdbm.actions import (
            snapshot_temporal_tables_from_storage)

        schema = "id int, v string, updated timestamp"
        pks = spark.createDataFrame(
            [("dbo", "items", "id")],
            "schemaName string, tableName string, primaryKeys string")
        first = spark.createDataFrame(
            [(1, "a1", self.T0), (2, "b1", self.T0),
             (3, "c1", self.T0 - timedelta(hours=1))], schema)
        storage = str(tmp_path / "storage")
        ex = _StubExtractor(spark, first, pks)
        names = self._ingest(spark, ex, storage, self.T0)
        assert "extractFromRDBM" in names
        # first run: empty table, so no watermark in the generated query
        assert "where" not in ex.queries[-1]

        later = self.T0 + timedelta(hours=1)
        ex._frame = spark.createDataFrame(
            [(2, "b2", later), (4, "d1", later)], schema)
        self._ingest(spark, ex, storage, later)
        bound = self.T0 - timedelta(seconds=self.OFFSET_S)
        assert f"where [updated] > '{bound}'" in ex.queries[-1]

        snap_ts = later + timedelta(minutes=1)
        flow = Waimak.spark_flow(spark, str(tmp_path / "snap_tmp"))
        flow = flow.snapshot_from_storage(storage, snap_ts, "items",
                                          output_prefix="snap")
        flow = snapshot_temporal_tables_from_storage(
            flow, storage, snap_ts, ["items"])
        _executed, final = flow.execute()
        plain = final.inputs.get("snap_items")
        temporal = final.inputs.get("items")
        got = {r["id"]: r["v"] for r in plain.collect()}
        # one row per primary key, holding its newest version
        assert plain.count() == len(got)
        assert got == {1: "a1", 2: "b2", 3: "c1", 4: "d1"}
        # a non-temporal table's temporal snapshot IS the plain snapshot
        cols = sorted(plain.columns)
        assert sorted(temporal.columns) == cols
        assert (sorted(tuple(r) for r in temporal.select(*cols).collect())
                == sorted(tuple(r) for r in plain.select(*cols).collect()))
