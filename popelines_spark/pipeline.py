"""``Popeline`` — the user-facing facade, Spark edition.

One class with the reference's 16-method surface (popelines/main.py:16-310),
each method delegating to the engine modules. A popelines user can switch by
replacing ``popeline(dataset_id=..., project=...)`` with
``Popeline(warehouse=...)`` and keeping their call shapes
(README.md:26-58 composite: call_api → fix_json_keys → write_to_json →
write_to_bq → find_last_entry / chunk_date_range).
"""

from __future__ import annotations

import json
import logging

from pyspark.sql import DataFrame, SparkSession

from popelines_spark import incremental, io, nested, schemas
from popelines_spark.sources import rest
from popelines_spark.session import get_spark


class Popeline:
    def __init__(
        self,
        warehouse: str = "/tmp/popelines_spark_warehouse",
        spark: SparkSession | None = None,
        verbose: bool = False,
    ):
        """popelines/main.py:16-43 — clients+dataset context → session+warehouse."""
        self.warehouse = warehouse
        self.spark = spark or get_spark()
        self.log = self.get_logger(verbose)

    @staticmethod
    def get_logger(verbose: bool = False) -> logging.Logger:
        """popelines/main.py:45-60."""
        log = logging.getLogger("popelines_spark")
        if not log.handlers:
            h = logging.StreamHandler()
            h.setFormatter(logging.Formatter("%(asctime)s %(levelname)s %(message)s"))
            log.addHandler(h)
        log.setLevel(logging.DEBUG if verbose else logging.INFO)
        return log

    # --- schema ---------------------------------------------------------
    def generate_schema(self, file_name: str):
        """popelines/main.py:62-75 — NDJSON schema inference."""
        return io.infer_ndjson_schema(self.spark, file_name)

    def merge_schemas(self, old_schm, new_schm):
        """popelines/main.py:77-98 — add-only recursive merge."""
        return schemas.merge_schemas(old_schm, new_schm)

    def _table_layout(self, table_name: str) -> str:
        """'manifest' | 'snapshot' | 'path' — the live storage layout the
        layout-transparent methods (write_to_table, the DML trio,
        vacuum_table) route on. A table that exists in none of the
        layouts is 'path' (the create-on-first-write default)."""
        from popelines_spark.manifest import is_manifest_table

        if is_manifest_table(self.spark, self.warehouse, table_name):
            return "manifest"
        if io.is_snapshot_table(self.spark, self.warehouse, table_name):
            return "snapshot"
        return "path"

    # --- load / extract --------------------------------------------------
    def write_to_table(
        self,
        table_name: str,
        file_name: str | None = None,
        df: DataFrame | None = None,
        append: bool = True,
        ignore_unknown_values: bool = False,
        schema_autodetect: bool = False,
        partition_by: list[str] | str | None = None,
        update_stats: bool = False,
        batch_id: str | int | None = None,
    ) -> str:
        """popelines/main.py:100-155 — load NDJSON (or a DataFrame) into a
        table with append/truncate + add-only evolution. ``partition_by``
        opts into Hive-style directory partitioning (the engine-native
        analog of BigQuery's server-side partitioning; an extension, not a
        reference parameter). ``update_stats`` keeps ``_stats.json``
        current across appends in O(batch) (io.update_stats_increment).

        LAYOUT-TRANSPARENT (review r12): the reference's write_to_bq
        appends regardless of how the table is stored server-side, so
        appends here route by the live layout — manifest (ACID) tables
        get an O(batch) manifest commit, snapshot tables a new committed
        version (O(table) per append — version dirs are self-contained;
        put frequently-appended large tables on the manifest layout),
        path tables the plain parquet append. Truncate on a
        snapshot table becomes write_table_snapshot (the reader-isolated
        replace); truncate on a manifest table stays a loud refusal
        (an ACID truncate is delete_manifest_rows('true') — an explicit,
        changefeed-visible choice the facade won't make silently).
        Knobs a versioned layout cannot honor (partition_by,
        update_stats, ignore_unknown_values, autodetect) raise rather
        than silently no-op — both versioned appends already do the same
        add-only evolution as the default path write.

        ``batch_id`` (manifest layout only) makes the append IDEMPOTENT:
        re-running a load that already committed this id is a no-op —
        the exactly-once contract a retried ingestion job needs
        (manifest.append_manifest_table). Layouts without a commit log
        to record the id against refuse it."""
        if df is None:
            if file_name is None:
                raise ValueError("need file_name or df")
            df = io.read_ndjson(self.spark, file_name)
        from popelines_spark.manifest import append_manifest_table

        layout = self._table_layout(table_name)
        if layout != "path":
            unsupported = {
                "partition_by": partition_by,
                "update_stats": update_stats,
                "ignore_unknown_values": ignore_unknown_values,
                "schema_autodetect": schema_autodetect,
            }
            bad = [k for k, v in unsupported.items() if v]
            if bad:
                raise ValueError(
                    f"write_to_table: {bad} not supported on the {layout} "
                    f"layout of {table_name!r} — versioned appends always "
                    "use add-only evolution and layout-native stats"
                )
        if layout != "manifest" and batch_id is not None:
            raise ValueError(
                f"write_to_table: batch_id needs a commit log to record "
                f"the id against — {table_name!r} has the {layout} "
                "layout (manifest tables only)"
            )
        if layout == "manifest":
            if not append:
                raise ValueError(
                    f"write_to_table: truncate on manifest table "
                    f"{table_name!r} must be explicit — use "
                    "manifest_dml.delete_manifest_rows(predicate='true') "
                    "then append"
                )
            append_manifest_table(
                self.spark, self.warehouse, table_name, df,
                batch_id=batch_id,
            )
            return io.table_path(self.warehouse, table_name)
        if layout == "snapshot":
            if append:
                io.append_table_snapshot(
                    self.spark, self.warehouse, table_name, df
                )
            else:
                io.write_table_snapshot(
                    self.spark, self.warehouse, table_name, df
                )
            return io.table_path(self.warehouse, table_name)
        return io.write_table(
            df,
            self.warehouse,
            table_name,
            append=append,
            ignore_unknown_values=ignore_unknown_values,
            autodetect=schema_autodetect,
            partition_by=partition_by,
            update_stats=update_stats,
        )

    def write_to_store(self, dest_uri: str, file_name: str) -> None:
        """popelines/main.py:157-166 — object-store upload."""
        io.put_object(self.spark, file_name, dest_uri)

    def write_to_json(self, file_name, jayson, mode="w", prep_for_BQ=False):
        """popelines/main.py:168-178 — dicts → NDJSON file (driver-side,
        API-edge only; bulk sinks go through io.write_ndjson)."""
        if prep_for_BQ:
            jayson = self.fix_json_keys(jayson, schemas.sanitize_identifier)
        with open(file_name, mode) as f:
            for line in jayson:
                f.write(json.dumps(line) + "\n")

    def call_api(self, url, method="GET", headers=None, params=None, data=None):
        """popelines/main.py:193-206."""
        return rest.fetch_json(url, method=method, headers=headers, params=params, data=data)

    def chunk_date_range(self, start_datetime, end_datetime, chunk_size):
        """popelines/main.py:208-223."""
        return incremental.chunk_date_range(start_datetime, end_datetime, chunk_size)

    def find_last_entry(self, table_name: str, date_column: str):
        """popelines/main.py:225-234. Layout-agnostic read: manifest
        tables resolve to their live tip (a plain glob would fail on the
        versions/ metadata), path tables read directly."""
        return incremental.max_watermark(
            io.read_table_auto(self.spark, self.warehouse, table_name),
            date_column,
        )

    # --- query -----------------------------------------------------------
    def query(self, sql: str, args: dict | None = None) -> list:
        """bq_query (popelines/main.py:236-243): arbitrary SQL → row list.
        Tables under the warehouse must be registered via register_table.
        ``args`` binds named parameters (``:name`` placeholders) — the
        injection-safe spelling of the reference's f-string SQL assembly.
        NOTE: materializes on the driver like the reference — prefer
        query_df for anything large."""
        return self.query_df(sql, args).collect()

    def query_df(self, sql: str, args: dict | None = None) -> DataFrame:
        """The scale-safe spelling: SQL → lazy DataFrame."""
        if args:
            return self.spark.sql(sql, args=args)
        return self.spark.sql(sql)

    def join_tables(
        self,
        big_table: str,
        small_table: str | list[str],
        on: str | list[str],
        how: str | list[str] = "inner",
        runtime_filter: bool | str = False,
        skew: bool | str = False,
    ) -> DataFrame:
        """Join two warehouse tables with STATS-DRIVEN physical strategy.

        ``small_table`` may also be a LIST of dimension tables (with
        ``on``/``how`` scalars applied to every leg, or parallel lists):
        the call then routes through :meth:`star_join`, which composes
        the full decision matrix automatically — leg ORDER
        (most-selective inner dims first) and per-leg broadcast are
        planned from at-rest stats alone (the two rewrites with no CPU
        trade-off, always on), while bloom prefilters and skew salting
        keep the same opt-in ``runtime_filter``/``skew`` contract as the
        two-table form.

        The reference's engine (BigQuery) picks broadcast vs shuffled and
        applies runtime semi-join ("bloom") filters transparently to every
        delegated join (popelines/main.py:240); this is the engine-native
        equivalent, driven by the ``_stats.json`` that ``analyze_table``
        writes:

        - a broadcastable small side (``suggest_broadcast``) gets an
          explicit ``broadcast()`` hint;
        - ``runtime_filter="auto"`` additionally applies
          operators/bloom.bloom_filter_join when
          ``plan_runtime_filter`` says the at-rest stats justify it
          (selective non-broadcastable dim: key NDV ≪ fact key NDV) —
          cutting the fact side's shuffle volume before the exchange;
        - ``runtime_filter=True`` forces the bloom pre-filter (still
          refused for join types it would corrupt);
        - ``runtime_filter=False`` (DEFAULT — the rewrite is opt-in) and
          the join is left to Catalyst/AQE untouched;
        - ``skew="auto"`` applies operators/skew.salted_join when
          ``plan_skew_salt`` finds a hot join key in the big side's
          ``analyze_table(key_columns=[on])`` skew profile (one key
          overflowing a reducer's even share) — spreading it over
          (key, salt) sub-partitions; ``skew=True`` forces it. Composes
          with the bloom filter: prefilter first (cut volume), then
          salt the survivors' shuffle.

        A broadcastable small side short-circuits both rewrites: a
        broadcast-hash join never shuffles the big side by key, so
        there is no shuffle volume to cut and no hot reducer to split.

        Either way the RESULT is identical to the plain join — the
        rewrites only move where non-matching big-side rows are dropped
        and which reducer a hot key's rows land on.
        """
        from pyspark.sql import functions as F

        from popelines_spark.operators.bloom import bloom_prefilter
        from popelines_spark.operators.skew import salted_join

        if isinstance(small_table, (list, tuple)):
            ons = list(on) if isinstance(on, (list, tuple)) else (
                [on] * len(small_table)
            )
            hows = list(how) if isinstance(how, (list, tuple)) else (
                [how] * len(small_table)
            )
            if not (len(ons) == len(hows) == len(small_table)):
                raise ValueError(
                    "join_tables: on/how lists must match small_table's "
                    f"length {len(small_table)}"
                )
            return self.star_join(
                big_table,
                [
                    {"table": t, "on": o, "how": h}
                    for t, o, h in zip(small_table, ons, hows)
                ],
                runtime_filter=runtime_filter,
                skew=skew,
            )
        decision = self.explain_join(
            big_table, small_table, on, how,
            runtime_filter=runtime_filter, skew=skew,
        )
        self.log.info(
            "join_tables(%s, %s): %s",
            big_table, small_table, "; ".join(decision["reasons"]),
        )
        big = io.read_table_auto(self.spark, self.warehouse, big_table)
        small = io.read_table_auto(self.spark, self.warehouse, small_table)
        if decision["bloom_m_bits"] is not None:
            big = bloom_prefilter(
                big, small, on, m_bits=decision["bloom_m_bits"]
            )
        if decision["salt_buckets"] is not None:
            return salted_join(
                big, small, on, buckets=decision["salt_buckets"]
            )
        if decision["broadcast"]:
            small = F.broadcast(small)
        return big.join(small, on, how)

    def explain_join(
        self,
        big_table: str,
        small_table: str,
        on: str,
        how: str = "inner",
        runtime_filter: bool | str = False,
        skew: bool | str = False,
    ) -> dict:
        """The join_tables decision WITHOUT executing it —
        planner.plan_join over the two tables' at-rest stats. Costs two
        JSON reads regardless of table size; ``reasons`` says what would
        be applied and why."""
        from popelines_spark.planner import plan_join

        return plan_join(
            self.table_stats(big_table),
            self.table_stats(small_table),
            on,
            how,
            runtime_filter=runtime_filter,
            skew=skew,
            shuffle_partitions=int(
                self.spark.conf.get("spark.sql.shuffle.partitions", "200")
            ),
        )

    def explain_star_join(
        self,
        fact_table: str,
        dims: list[dict],
        runtime_filter: bool | str = False,
        skew: bool | str = False,
    ) -> dict:
        """Plan ``fact ⋈ dim₁ ⋈ … ⋈ dimₙ`` WITHOUT executing it —
        planner.plan_star_join over at-rest stats. ``dims``:
        ``[{"table": str, "on": str, "how": "inner"|"left"}, ...]``.
        Costs N+1 JSON reads regardless of table sizes; ``reasons``
        explains the leg order and each leg's strategy."""
        from popelines_spark.planner import plan_star_join

        return plan_star_join(
            self.table_stats(fact_table),
            [
                {
                    "name": d["table"],
                    "on": d["on"],
                    "how": d.get("how", "inner"),
                    "stats": self.table_stats(d["table"]),
                }
                for d in dims
            ],
            runtime_filter=runtime_filter,
            skew=skew,
            shuffle_partitions=int(
                self.spark.conf.get("spark.sql.shuffle.partitions", "200")
            ),
        )

    def star_join(
        self,
        fact_table: str,
        dims: list[dict],
        runtime_filter: bool | str = False,
        skew: bool | str = False,
    ) -> DataFrame:
        """Join a fact table to N dimension tables with STATS-PLANNED
        leg order and per-leg strategy (operators/star.star_join over
        explain_star_join's plan): most-selective inner dims first so
        every later leg shuffles only the survivors, broadcast hints for
        under-threshold dims, and (``runtime_filter="auto"``, opt-in
        like join_tables) bloom prefilters for selective
        non-broadcastable inner dims. The two moves BigQuery's optimizer
        applied to the reference's delegated multi-way joins
        (popelines/main.py:240), made explicit. Result is identical to
        joining in the user's order — reordering is restricted to
        inner/left star legs, where it commutes."""
        from popelines_spark.operators.star import star_join as _star

        plan = self.explain_star_join(
            fact_table, dims, runtime_filter=runtime_filter, skew=skew
        )
        self.log.info(
            "star_join(%s): %s", fact_table, "; ".join(plan["reasons"])
        )
        fact = io.read_table_auto(self.spark, self.warehouse, fact_table)
        legs = [
            {
                "name": d["table"],
                "df": io.read_table_auto(
                    self.spark, self.warehouse, d["table"]
                ),
                "on": d["on"],
                "how": d.get("how", "inner"),
            }
            for d in dims
        ]
        return _star(fact, legs, plan)

    def register_table(
        self,
        table_name: str,
        snapshot: bool = False,
        manifest: bool = False,
        version: int | None = None,
    ) -> None:
        """Expose a warehouse table to SQL. Default = the evolved
        path-table read; ``snapshot=True`` reads the committed snapshot
        layout, ``manifest=True`` reads the ACID manifest layout
        (manifest.read_manifest_table) — and ``version=`` pins a
        retained historical version of either — time travel at the SQL
        surface."""
        if manifest:
            from popelines_spark.manifest import read_manifest_table

            df = read_manifest_table(
                self.spark, self.warehouse, table_name, version=version
            )
        elif snapshot or version is not None:
            df = io.read_table_snapshot(
                self.spark, self.warehouse, table_name, version=version
            )
        else:
            df = io.read_table_evolved(self.spark, self.warehouse, table_name)
        df.createOrReplaceTempView(io.normalize_table_name(table_name))

    def upsert_table(
        self,
        table_name: str,
        df: DataFrame,
        keys: list[str],
        dedup_source_order=None,
    ) -> str:
        """BigQuery/Delta MERGE, routed by the table's live layout (same
        rule as delete_rows/update_rows): rows matched on ``keys`` take
        ``df``'s values, unmatched rows on both sides survive
        (operators/upsert.py carries the duplicate-source-key guard).
        Manifest tables rewrite only the files holding matched keys
        (manifest_dml.upsert_manifest_table — which raises on duplicate
        source keys, so ``dedup_source_order`` is applied to the source
        FIRST via the same keep-first operator), snapshot tables commit
        the merged frame as a NEW version (reader-isolated by
        construction; single-writer shape — see delete_rows' concurrency
        note), path tables replace in one truncate-write.
        Returns the table path on every layout. Engine-native extension
        — the reference delegates MERGE to BigQuery via bq_query."""
        from popelines_spark.operators.upsert import upsert
        from popelines_spark.plans.inspect import checkpoint

        layout = self._table_layout(table_name)
        if layout == "manifest":
            from popelines_spark.manifest_dml import upsert_manifest_table
            from popelines_spark.operators.keyed import keep_first

            src = df
            if dedup_source_order is not None:
                src = keep_first(src, keys, dedup_source_order)
            upsert_manifest_table(
                self.spark, self.warehouse, table_name, src, keys
            )
            return io.table_path(self.warehouse, table_name)
        if layout == "snapshot":
            target = io.read_table_snapshot(
                self.spark, self.warehouse, table_name
            )
            merged = upsert(
                target, df, keys, dedup_source_order=dedup_source_order
            )
            io.write_table_snapshot(
                self.spark, self.warehouse, table_name, merged
            )
            return io.table_path(self.warehouse, table_name)
        target = io.read_table_evolved(self.spark, self.warehouse, table_name)
        merged = upsert(
            target, df, keys, dedup_source_order=dedup_source_order
        )
        # materialize before overwriting: the merged plan reads the files
        # the write is about to truncate (audited lineage barrier)
        merged = checkpoint(merged, "upsert_table")
        return io.write_table(
            merged, self.warehouse, table_name, append=False
        )

    def delete_rows(self, table_name: str, predicate: str) -> int:
        """BigQuery DML DELETE, routed by the table's live layout (the
        reference's DELETE-via-bq_query works regardless of how the
        table is stored — review r12's write_to_table rule, applied to
        the DML trio in round 13): manifest (ACID) tables get the
        copy-on-write file-granularity commit
        (manifest_dml.delete_manifest_rows — unmatched files carried by
        reference), snapshot tables a NEW committed version holding the
        surviving rows (old versions stay time-travel readable), path
        tables the materialize-then-truncate rewrite. Returns the
        deleted count on every layout. SQL DELETE semantics everywhere:
        only rows where the predicate is TRUE are deleted — rows where
        it evaluates to NULL survive (``NOT (p)`` alone would drop
        them)."""
        from pyspark.sql import functions as F

        from popelines_spark.plans.inspect import checkpoint

        layout = self._table_layout(table_name)
        if layout == "manifest":
            from popelines_spark.manifest_dml import delete_manifest_rows

            _, n_deleted = delete_manifest_rows(
                self.spark, self.warehouse, table_name, predicate
            )
            return n_deleted
        cond = F.coalesce(F.expr(predicate).cast("boolean"), F.lit(False))
        if layout == "snapshot":
            target = io.read_table_snapshot(
                self.spark, self.warehouse, table_name
            )
            n_deleted = target.filter(cond).count()
            if n_deleted:
                # the new version's files never overlap the tip being
                # read, so no lineage barrier is needed before the write
                io.write_table_snapshot(
                    self.spark, self.warehouse, table_name,
                    target.filter(~cond),
                )
            return n_deleted
        target = io.read_table_evolved(self.spark, self.warehouse, table_name)
        total = target.count()
        kept = checkpoint(target.filter(~cond), "delete_rows")
        n_kept = kept.count()
        io.write_table(kept, self.warehouse, table_name, append=False)
        return total - n_kept

    def update_rows(
        self, table_name: str, set_exprs: dict[str, str], predicate: str
    ) -> int:
        """BigQuery DML UPDATE, routed by the table's live layout (same
        rule as delete_rows): manifest tables rewrite only the files
        holding matched rows (manifest_dml.update_manifest_rows),
        snapshot tables commit a NEW version with the updates applied
        (old versions stay time-travel readable; single-writer shape —
        see delete_rows' concurrency note), path tables rewrite in
        place. Returns the updated count on every layout. SQL UPDATE
        semantics everywhere: every SET expression is evaluated against
        the PRE-update row — ``SET a=b, b=a`` swaps — so all updated
        columns are built in ONE select over the original row, never
        sequentially; and every layout runs the same per-matched-row
        lossless-coercion probe (ADVICE r12) before writing."""
        from pyspark.sql import functions as F

        from popelines_spark.plans.inspect import checkpoint

        layout = self._table_layout(table_name)
        if layout == "manifest":
            from popelines_spark.manifest_dml import update_manifest_rows

            _, n_updated = update_manifest_rows(
                self.spark, self.warehouse, table_name, set_exprs, predicate
            )
            return n_updated
        if layout == "snapshot":
            from popelines_spark.manifest_dml import (
                _apply_set_exprs,
                _count_and_validate_set_exprs,
            )

            target = io.read_table_snapshot(
                self.spark, self.warehouse, table_name
            )
            unknown = set(set_exprs) - set(target.columns)
            if unknown:
                raise ValueError(
                    f"UPDATE of non-existent column(s): {sorted(unknown)}"
                )
            cond = F.expr(predicate)
            types = {f.name: f.dataType for f in target.schema.fields}
            n_updated = _count_and_validate_set_exprs(
                target, cond, set_exprs, types
            )
            if n_updated:
                io.write_table_snapshot(
                    self.spark, self.warehouse, table_name,
                    _apply_set_exprs(target, cond, set_exprs, types),
                )
            return n_updated
        target = io.read_table_evolved(self.spark, self.warehouse, table_name)
        unknown = set(set_exprs) - set(target.columns)
        if unknown:
            raise ValueError(f"UPDATE of non-existent column(s): {sorted(unknown)}")
        cond = F.expr(predicate)
        from popelines_spark.manifest_dml import (
            _apply_set_exprs,
            _count_and_validate_set_exprs,
        )

        types = {f.name: f.dataType for f in target.schema.fields}
        n_match = _count_and_validate_set_exprs(
            target, cond, set_exprs, types
        )
        updated = checkpoint(
            _apply_set_exprs(target, cond, set_exprs, types), "update_rows"
        )
        io.write_table(updated, self.warehouse, table_name, append=False)
        return n_match

    # --- table maintenance (engine-native; no reference analog — BigQuery
    # does both server-side) -----------------------------------------------
    def compact_table(self, table_name: str, target_file_bytes: int = 128 << 20):
        """Small-file compaction, routed by the table's live layout
        (completing the maintenance transparency vacuum_table started):
        manifest tables commit a compaction version through the
        linearized commit path (prior versions keep their file lists;
        racing appends are healed in), snapshot tables rewrite the tip
        as a NEW version + retention-GC (readers see old or new file
        set, never a mix), path tables get the in-place rewrite. Returns
        ``(files_before, files_after)`` on every layout."""
        layout = self._table_layout(table_name)
        if layout == "manifest":
            import math

            from popelines_spark.manifest import (
                _paths,
                _resolve_tip,
                compact_manifest_table,
            )

            root, vroot, _ = _paths(self.warehouse, table_name)
            fs, _, jvm = io._hadoop_fs(self.spark, root)
            _, man = _resolve_tip(fs, vroot, jvm, table_name)
            files_before = len(man["files"])
            # O(files) metadata stats — a maintenance-path cost, same
            # order as the rewrite's own listing
            total = sum(
                fs.getFileStatus(
                    jvm.org.apache.hadoop.fs.Path(f)
                ).getLen()
                for f in man["files"]
            )
            n_files = max(1, math.ceil(total / target_file_bytes))
            compact_manifest_table(
                self.spark, self.warehouse, table_name, n_files=n_files
            )
            _, man2 = _resolve_tip(fs, vroot, jvm, table_name)
            return files_before, len(man2["files"])
        if layout == "snapshot":
            return io.compact_table_snapshot(
                self.spark, self.warehouse, table_name, target_file_bytes
            )
        return io.compact_table(
            self.spark, self.warehouse, table_name, target_file_bytes
        )

    def vacuum_table(self, table_name: str, horizon_sec: float | None = None):
        """Reclaim crash debris, routed by the table's layout (the
        maintenance sibling of the layout-transparent write path):
        manifest tables sweep data files no committed manifest
        references (manifest.cleanup_orphan_files — returns the file
        count), snapshot tables sweep torn/orphaned version dirs and
        stale reservations (io.vacuum_snapshot_debris — returns the
        per-class dict), path tables have no commit protocol and
        therefore no debris (returns None). ``horizon_sec`` overrides
        the presumed-dead lease in both versioned layouts; keep it
        above the longest in-flight write."""
        from popelines_spark.manifest import (
            cleanup_orphan_files,
            is_manifest_table,
        )

        if is_manifest_table(self.spark, self.warehouse, table_name):
            kwargs = (
                {"reservation_timeout_sec": float(horizon_sec)}
                if horizon_sec is not None
                else {}
            )
            return cleanup_orphan_files(
                self.spark, self.warehouse, table_name, **kwargs
            )
        if io.is_snapshot_table(self.spark, self.warehouse, table_name):
            return io.vacuum_snapshot_debris(
                self.spark, self.warehouse, table_name,
                horizon_sec=horizon_sec,
            )
        return None

    def analyze_table(
        self, table_name: str, key_columns: list[str] | None = None
    ) -> dict:
        return io.analyze_table(
            self.spark, self.warehouse, table_name, key_columns=key_columns
        )

    def table_stats(self, table_name: str) -> dict | None:
        return io.read_table_stats(self.spark, self.warehouse, table_name)

    def suggest_shuffle_partitions(
        self,
        *table_names: str,
        target_partition_bytes: int = 128 << 20,
    ) -> dict:
        """planner.plan_shuffle_partitions over the named tables'
        at-rest stats: the ``spark.sql.shuffle.partitions`` value to set
        BEFORE a join/agg whose exchange these tables feed (pre-AQE
        upper bound — AQE coalesces oversized counts down; undersized
        partitions spill, which AQE cannot undo). Costs N JSON reads."""
        from popelines_spark.planner import plan_shuffle_partitions

        return plan_shuffle_partitions(
            *(self.table_stats(t) for t in table_names),
            target_partition_bytes=target_partition_bytes,
        )

    def bucketize_pair(
        self,
        left_table: str,
        right_table: str,
        on: str,
        n_buckets: int | None = None,
    ) -> tuple[str, str] | None:
        """Co-bucket two warehouse tables on their join key as catalog
        tables ``<name>_by_<key>`` — pay the shuffle once at write time;
        every later equi-join/groupBy on the key plans exchange-free
        (operators/bucketed.py). ``n_buckets`` defaults to the
        stats-driven ``plan_bucketing`` choice; returns None (no-op)
        when the stats say bucketing won't pay (a broadcastable side or
        missing stats) and no explicit count is given."""
        from popelines_spark.operators.bucketed import (
            plan_bucketing,
            write_bucketed,
        )

        if n_buckets is None:
            plan = plan_bucketing(
                self.table_stats(left_table), self.table_stats(right_table), on
            )
            if plan is None:
                return None
            self.log.info(
                "bucketize_pair(%s, %s): %s",
                left_table, right_table, plan["reason"],
            )
            n_buckets = plan["n_buckets"]
        names = []
        for t in (left_table, right_table):
            # read_table_auto, not read_table_evolved: on a manifest
            # (ACID) table a plain glob would hit versions/ JSON or
            # double-count dead pre-GC copy-on-write files
            df = io.read_table_auto(self.spark, self.warehouse, t)
            name = f"{io.normalize_table_name(t)}_by_{on}"
            write_bucketed(df, name, on, n_buckets)
            names.append(name)
        return tuple(names)

    def suggest_layout(
        self, table_name: str, filter_columns: list[str]
    ) -> dict | None:
        """Partitioning/clustering recommendation for ``table_name``
        from its at-rest stats and the workload's filter columns —
        operators/partitioned.plan_layout (the ANALYZE-driven analog of
        BigQuery's partitioning + clustering recommendations)."""
        from popelines_spark.operators.partitioned import plan_layout

        return plan_layout(self.table_stats(table_name), filter_columns)

    def relayout_table(
        self, table_name: str, filter_columns: list[str]
    ) -> dict | None:
        """Rewrite ``table_name`` with its ``suggest_layout``
        recommendation (no-op returning None when nothing is eligible).
        The maintenance triplet: analyze_table (stats) → compact_table
        (file sizes) → relayout_table (pruning order). Returns the
        applied layout."""
        from popelines_spark.operators.partitioned import apply_layout

        io._refuse_nonpath_layout(
            self.spark, self.warehouse, table_name, "relayout_table",
            "compact_manifest_table (then re-ANALYZE)",
            "write_table_snapshot with the relaid frame",
        )
        layout = self.suggest_layout(table_name, filter_columns)
        if layout is None:
            return None
        self.log.info("relayout_table(%s): %s", table_name, layout["reason"])
        stats = self.table_stats(table_name)
        df = io.read_table_evolved(self.spark, self.warehouse, table_name)
        path = io.table_path(self.warehouse, table_name)
        # STAGED swap (same discipline as io.compact_table): the rewrite
        # lands beside the table and only replaces it once complete — a
        # mid-write failure (bad cast, lost executor) leaves the live
        # table untouched instead of half-deleted
        fs, root, jvm = io._hadoop_fs(self.spark, path)
        HPath = jvm.org.apache.hadoop.fs.Path
        staging = HPath(root.toString() + ".__relayout")
        backup = HPath(root.toString() + ".__old")
        fs.delete(staging, True)
        apply_layout(df, staging.toString(), layout)
        fs.delete(backup, True)
        if not fs.rename(root, backup):
            raise IOError(f"relayout_table: rename {root} -> {backup} failed")
        if not fs.rename(staging, root):
            fs.rename(backup, root)  # roll the live table back
            raise IOError(f"relayout_table: rename {staging} -> {root} failed")
        fs.delete(backup, True)
        if stats is not None:
            # layout-only rewrite: row-level stats still exact
            io.carry_stats_forward(
                self.spark, self.warehouse, table_name, stats
            )
        return layout

    # --- JSON wrangling ---------------------------------------------------
    def fix_json_keys(self, obj, callback):
        """popelines/main.py:245-262 — recursive key rewrite (driver-side,
        API-edge); for at-rest data use nested.rename_fields (distributed)."""
        if isinstance(obj, list):
            return [self.fix_json_keys(x, callback) for x in obj]
        if isinstance(obj, dict):
            return {
                callback(k): self.fix_json_keys(v, callback)
                if isinstance(v, (list, dict))
                else v
                for k, v in obj.items()
            }
        return obj

    def fix_json_values(self, obj, callback, **kwargs):
        """popelines/main.py:264-286 — recursive value rewrite; callback
        signature (value, key, **kwargs), exactly as the reference."""
        if isinstance(obj, list):
            return [self.fix_json_values(x, callback, **kwargs) for x in obj]
        if isinstance(obj, dict):
            out = {}
            for k, v in obj.items():
                if isinstance(v, (list, dict)):
                    out[k] = self.fix_json_values(callback(v, k, **kwargs), callback, **kwargs)
                else:
                    out[k] = callback(v, k, **kwargs)
            return out
        return obj

    def copy_and_replace_keys(self, table_name: str, key_callback) -> None:
        """popelines/main.py:288-310 re-grounded: no SQL-text generation —
        read table, deep-rename via struct cast, rewrite. Snapshot
        tables commit the renamed frame as a NEW version (each version
        dir is schema-self-contained, so the pre-rename schema stays
        time-travel readable); path tables overwrite in place. Manifest
        tables still refuse: the manifest's interned scan stats, batch
        lineage and file carries are all keyed by column name, so a
        whole-schema rename needs an explicit fresh-table rebuild, not a
        silent in-place mutation."""
        from popelines_spark.plans.inspect import checkpoint

        layout = self._table_layout(table_name)
        if layout == "manifest":
            raise ValueError(
                f"copy_and_replace_keys: {table_name!r} is a manifest "
                "(ACID) table whose stats/lineage are column-name-keyed "
                "— rebuild explicitly: read_manifest_table + "
                "nested.rename_fields into a fresh table"
            )
        if layout == "snapshot":
            df = io.read_table_snapshot(
                self.spark, self.warehouse, table_name
            )
            io.write_table_snapshot(
                self.spark, self.warehouse, table_name,
                nested.rename_fields(df, key_callback),
            )
            return
        df = io.read_table_evolved(self.spark, self.warehouse, table_name)
        renamed = nested.rename_fields(df, key_callback)
        # Materialize before overwrite (source files are being replaced) —
        # through the audited barrier like every other lineage break; the
        # cache()/count() it replaces could rebuild evicted partitions
        # from the already-truncated source (review r12)
        renamed = checkpoint(renamed, "copy_and_replace_keys")
        io.write_table(renamed, self.warehouse, table_name, append=False)
