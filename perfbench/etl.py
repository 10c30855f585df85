"""The ``etl_ingest`` workload: the popelines load path, pass by pass.

One pass loads API-shaped record batches into a fresh manifest table and
then exercises everything a loading job does next:

``write_to_json(prep_for_BQ=True)`` -> ``io.read_ndjson`` ->
``write_to_table(batch_id=...)`` per batch, a re-sent batch, then
``find_last_entry``, ``upsert_table`` / ``update_rows`` / ``delete_rows``,
``register_table(manifest=True)`` + ``query``, and an ``availableNow``
drain of the table's changefeed.

After every step the table is compared with ``inputs.EtlModel``.
"""

from __future__ import annotations

import os
import shutil
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from inputs import EXPECTED_COLUMNS, EtlModel

BATCHES = 2
#: Records per batch. A settled pass on 4 cores costs about 15 s of CPU
#: that does not depend on the row count (job scheduling, commits, stream
#: start) plus ~0.8 ms per batch row: at 1,000 rows the per-row work
#: (``write_to_json``, NDJSON parsing, copy-on-write rewrites, changefeed
#: rows) is ~6% of the pass, at 10,000 ~37%, at 50,000 ~72%. A 50,000-row
#: run takes ~210 s, past the three-minute limit of one run; 10,000 keeps a
#: run near a minute (README.md, "Batch size").
BATCH_ROWS = 10000
UPDATE_MOD = 7
DELETE_MOD, DELETE_REM = 11, 3


def _local(path: str) -> str:
    return path[len("file:"):] if path.startswith("file:") else path


class EtlIngest:
    name = "etl_ingest"
    #: Untimed passes inside set-up. On a 4-core host the first pass runs
    #: ~3.5x slower than later ones (JIT compilation, code generation,
    #: first Python workers) and the second still ~1.2x; a second warm-up
    #: pass would lengthen every run by a fifth, so runs time pass 1.
    warmup_passes = 1

    def __init__(self, ctx):
        from popelines_spark.pipeline import Popeline

        self.ctx = ctx
        self.root = os.path.join(ctx.work, "etl")
        self.wh = os.path.join(self.root, "warehouse")
        os.makedirs(self.wh)
        self.model = EtlModel(ctx.seed, BATCHES, BATCH_ROWS)
        self.pl = Popeline(warehouse=self.wh, spark=ctx.spark)

    # --- helpers ---------------------------------------------------------
    def _json(self, name: str, records: list[dict]) -> str:
        path = os.path.join(self.root, f"{name}.ndjson")
        with self.ctx.spans.span("pipeline.write_to_json"):
            self.pl.write_to_json(path, records, prep_for_BQ=True)
        return path

    def _read(self, path: str):
        from popelines_spark import io

        with self.ctx.spans.span("io.read_ndjson"):
            return io.read_ndjson(self.ctx.spark, path)

    def _tip(self, table: str) -> pa.Table:
        """The tip's rows, read with pyarrow from the manifest's file list
        rather than through Spark. Columns a file predates read as null."""
        from popelines_spark.manifest import manifest_file_list, read_manifest_table

        names = read_manifest_table(self.ctx.spark, self.wh, table).columns
        files = manifest_file_list(self.ctx.spark, self.wh, table)
        tip = pa.concat_tables(
            [pq.read_table(_local(f)) for f in files], promote_options="default"
        )
        return tip.select(names)

    def _check_state(self, table: str, what: str) -> None:
        tip = self._tip(table)
        n, total, keys = self.model.state()
        self.ctx.check(
            f"{what}: rows/sum/keys",
            tip.num_rows == n
            and frozenset(tip["id"].to_pylist()) == keys
            and pc.sum(tip["amount"]).as_py() == total,
        )

    def _check_schema(self, table: str) -> None:
        from popelines_spark.manifest import read_manifest_table

        schema = read_manifest_table(self.ctx.spark, self.wh, table).schema
        got = {}
        for f in schema.fields:
            dt = f.dataType
            if hasattr(dt, "elementType"):
                dt = dt.elementType
            got[f.name] = (
                tuple(sorted(x.name for x in dt.fields))
                if hasattr(dt, "fields") else None
            )
        want = {
            k: tuple(sorted(v)) if v else None
            for k, v in EXPECTED_COLUMNS.items()
        }
        self.ctx.check("sanitized schema", got == want)

    def _files(self, table: str) -> dict[str, int]:
        """Live files of the tip manifest with their parquet row counts."""
        from popelines_spark.manifest import manifest_file_list

        return {
            f: pq.ParquetFile(_local(f)).metadata.num_rows
            for f in manifest_file_list(self.ctx.spark, self.wh, table)
        }

    def _meta_bytes(self, table: str) -> int:
        vroot = os.path.join(self.wh, table, "versions")
        total = 0
        for dirpath, _, files in os.walk(vroot):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return total

    # --- one pass ----------------------------------------------------------
    def run_pass(self, p: int) -> dict:
        from popelines_spark.manifest import append_manifest_table

        ctx, model, spans = self.ctx, self.model, self.ctx.spans
        table = f"etl_p{p}"
        model.reset()
        rewritten = changed = 0
        commits = 0
        times: dict[str, float] = {}

        def dml(step: str, fn):
            nonlocal rewritten, changed, commits
            before = self._files(table) if ctx.trace else None
            with ctx.op(f"etl.{step}", f"p{p}.{step}") as t:
                n = fn()
            times[step] = t.seconds
            commits += 1
            if before is not None:
                after = self._files(table)
                rewritten += sum(
                    rows for f, rows in before.items() if f not in after
                )
            return n

        for b, batch in enumerate(model.batches):
            with ctx.op("etl.batch_commit", f"p{p}.batch{b}") as t:
                df = self._read(self._json(f"batch{b}", batch))
                with spans.span("manifest.append"):
                    if b == 0:  # the facade appends to existing tables only
                        append_manifest_table(
                            ctx.spark, self.wh, table, df, batch_id="b0"
                        )
                    else:
                        self.pl.write_to_table(table, df=df, batch_id=f"b{b}")
            times[f"batch{b}"] = t.seconds
            commits += 1
            model.apply_append(batch)
            self._check_state(table, f"batch {b}")
        self._check_schema(table)

        with ctx.op("etl.retry", f"p{p}.retry") as t:
            df = self._read(self._json("retry", model.batches[0]))
            with spans.span("manifest.retry_noop"):
                self.pl.write_to_table(table, df=df, batch_id="b0")
        times["retry"] = t.seconds
        self._check_state(table, "re-sent batch")

        with ctx.op("incremental.find_last_entry", f"p{p}.last") as t:
            last = self.pl.find_last_entry(table, "updated_at")
        times["last"] = t.seconds
        ctx.check("find_last_entry", last == model.max_updated)

        def upsert():
            src = self._read(self._json("upsert", model.upsert_source))
            with spans.span("manifest_dml.upsert"):
                self.pl.upsert_table(table, src, keys=["id"])

        dml("upsert", upsert)
        changed += model.upsert_matched
        model.apply_upsert()
        self._check_state(table, "upsert")

        def update():
            with spans.span("manifest_dml.update"):
                return self.pl.update_rows(
                    table, {"amount": "amount + 1"}, f"id % {UPDATE_MOD} = 0"
                )

        n_upd = dml("update", update)
        want = model.apply_update(UPDATE_MOD)
        changed += want
        ctx.check("update_rows count", n_upd == want)
        self._check_state(table, "update")

        def delete():
            with spans.span("manifest_dml.delete"):
                return self.pl.delete_rows(
                    table, f"id % {DELETE_MOD} = {DELETE_REM}"
                )

        n_del = dml("delete", delete)
        want = model.apply_delete(DELETE_MOD, DELETE_REM)
        changed += want
        ctx.check("delete_rows count", n_del == want)
        self._check_state(table, "delete")

        with ctx.op("pipeline.query", f"p{p}.query") as t:
            self.pl.register_table(table, manifest=True)
            res = self.pl.query(
                f"SELECT count(*) AS n, sum(amount) AS s FROM {table}"
            )
        times["query"] = t.seconds
        n, total, _ = model.state()
        ctx.check("query", res[0]["n"] == n and res[0]["s"] == total)

        feed_rows = self._drain(p, table, times)

        out = {
            "ingest_rows": BATCHES * BATCH_ROWS,
            "ingest_s": sum(times[f"batch{b}"] for b in range(BATCHES)),
            "batch_commit_s": statistics.median(
                times[f"batch{b}"] for b in range(BATCHES)
            ),
            "dml_s": times["upsert"] + times["update"] + times["delete"],
            "sql_query_s": times["query"],
            "drain_s": times["drain"],
            "feed_rows": feed_rows,
        }
        if ctx.trace:
            out["meta_bytes_per_commit"] = self._meta_bytes(table) / commits
            out["rewritten_per_changed"] = rewritten / changed
        shutil.rmtree(os.path.join(self.wh, table), ignore_errors=True)
        return out

    def _drain(self, p: int, table: str, times: dict) -> int:
        from popelines_spark.streaming.changefeed import read_changefeed

        spark = self.ctx.spark
        sink = f"etl_feed_p{p}"
        ckpt = os.path.join(self.root, f"feed_ckpt_p{p}")
        with self.ctx.op("changefeed.drain", f"p{p}.drain") as t:
            q = (
                read_changefeed(spark, self.wh, table)
                .writeStream.format("memory").queryName(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination()
            finally:
                q.stop()
        times["drain"] = t.seconds
        feed = spark.table(sink).toArrow().sort_by(
            [("id", "ascending"), ("_change_version", "descending")]
        )
        ids = feed["id"].to_numpy()
        first = np.ones(len(ids), dtype=bool)  # the latest version of a key
        first[1:] = ids[1:] != ids[:-1]
        latest = feed.filter(first)
        tip = self._tip(table).sort_by("id")
        latest = latest.filter(pc.is_in(latest["id"], value_set=tip["id"]))
        self.ctx.check(
            "changefeed latest version equals table row",
            latest.num_rows == tip.num_rows
            and latest.select(tip.column_names).cast(tip.schema).equals(tip),
        )
        spark.catalog.dropTempView(sink)
        shutil.rmtree(ckpt, ignore_errors=True)
        return len(feed)
