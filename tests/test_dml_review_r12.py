"""Pins for the round-12 DML/sources/nested review findings."""

import pytest
from pyspark.sql import functions as F

from popelines_spark.manifest import append_manifest_table, read_manifest_table
from popelines_spark.manifest_dml import (
    update_manifest_rows,
    upsert_manifest_table,
)


def test_update_casts_set_expressions_to_declared_type(spark, scratch):
    """Review r12: 'cnt / 2' on a LONG column returned DOUBLE, wrote
    DOUBLE parquet under a manifest still declaring LONG, and every
    later read failed far from the cause."""
    df = spark.createDataFrame([(1, 10), (2, 20)], "id long, cnt long")
    append_manifest_table(spark, scratch, "uc", df)
    v, n = update_manifest_rows(
        spark, scratch, "uc", {"cnt": "cnt / 2"}, "id = 1"
    )
    assert n == 1
    got = read_manifest_table(spark, scratch, "uc")
    assert dict(got.dtypes)["cnt"] == "bigint"
    assert {r["id"]: r["cnt"] for r in got.collect()} == {1: 5, 2: 20}


def test_upsert_matches_null_keys(spark, scratch):
    """Review r12: the targeting probe's plain equality never matched
    NULL=NULL, so a NULL-key source row duplicated the NULL-key target
    row instead of updating it."""
    tgt = spark.createDataFrame(
        [(None, 1), ("a", 2)], "k string, v long"
    )
    append_manifest_table(spark, scratch, "nk", tgt)
    src = spark.createDataFrame([(None, 99)], "k string, v long")
    upsert_manifest_table(spark, scratch, "nk", src, ["k"])
    got = {
        r["k"]: r["v"]
        for r in read_manifest_table(spark, scratch, "nk").collect()
    }
    assert got == {None: 99, "a": 2}


def test_missing_file_matcher_excludes_corruption_classes():
    from popelines_spark.manifest import _is_missing_file_error

    assert _is_missing_file_error(
        Exception("[FAILED_READ_FILE.FILE_NOT_EXIST] gone")
    )
    assert _is_missing_file_error(Exception("PATH_NOT_FOUND: x"))
    # corruption must SURFACE, not be retried as a race (review r12)
    assert not _is_missing_file_error(
        Exception("[FAILED_READ_FILE.CANNOT_READ_FILE_FOOTER] corrupt")
    )
    assert not _is_missing_file_error(
        Exception("[FAILED_READ_FILE.PARQUET_COLUMN_DATA_TYPE_MISMATCH] x")
    )


def test_durable_update_survives_post_commit_heal_failure(
    spark, scratch, monkeypatch
):
    """Review r12: a post-commit heal exception must not report an
    already-committed DML as failed (an app-level retry of a
    non-idempotent UPDATE would double-apply)."""
    import popelines_spark.manifest as M

    df = spark.createDataFrame([(1, 10)], "id long, cnt long")
    append_manifest_table(spark, scratch, "ph", df)

    def boom(*a, **kw):
        raise RuntimeError("manifest reservation spinning")

    monkeypatch.setattr(M, "heal_manifest_table", boom)
    v, n = update_manifest_rows(
        spark, scratch, "ph", {"cnt": "cnt + 1"}, "id = 1"
    )
    assert n == 1
    monkeypatch.undo()
    assert read_manifest_table(spark, scratch, "ph").collect()[0]["cnt"] == 11


def test_rest_cursor_chain_tolerates_non_object_json(spark):
    """Review r12: a JSON-array page body crashed the whole job via
    list.get(); the chain must end gracefully with the body recorded."""
    import http.server
    import threading

    from popelines_spark.sources.rest import fetch_pages_distributed

    class _ArrayHandler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            body = b'[{"row": 1}]'
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _ArrayHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        seeds = spark.createDataFrame([("a",)], "ent string")
        got = fetch_pages_distributed(
            seeds,
            f"http://127.0.0.1:{srv.server_address[1]}/"
            "{ent}?cursor={cursor}",
        ).collect()
        assert len(got) == 1
        assert got[0]["body"] == '[{"row": 1}]'
        assert got[0]["__error"] is None
    finally:
        srv.shutdown()


def test_pyds_empty_window_reads_zero_rows(spark):
    """Review r12: an empty date range made pyspark call read(None) —
    must yield zero rows, not AttributeError."""
    from popelines_spark.sources.pyds import RestWindowsReader

    r = RestWindowsReader.__new__(RestWindowsReader)
    assert list(r.read(None)) == []


def test_flatten_and_nested_rename_collisions_fail_at_cause(spark):
    from popelines_spark.nested import flatten, rename_fields

    df = spark.createDataFrame(
        [(1, "clash", [(2,)])],
        "id long, a_b string, a array<struct<b:long>>",
    )
    with pytest.raises(ValueError, match="already exist"):
        flatten(df, "a")

    nested = spark.createDataFrame(
        [((1, 2),)], "u struct<userId:long,user_id:long>"
    )
    with pytest.raises(ValueError, match="both rename"):
        rename_fields(nested, lambda n: n.replace("userId", "user_id")).collect()
