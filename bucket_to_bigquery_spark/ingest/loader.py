"""Batch CSV loader — the reference's load pipeline, Spark-native.

Reproduces ``loadJobsFromTaskInfos`` + ``launchLoadJobs`` +
``storeJobsFilesAsImported`` (BucketToBigQuery.js:248-397, driven from
index.js:71-89) with one deliberate upgrade: files are recorded in
``<table>_imported`` only AFTER the data write succeeds, fixing the
reference's mark-after-launch hazard (SURVEY §3 step 8 — a failed BigQuery
load job's files were never retried because they were audited at launch).

Load-option parity (BucketToBigQuery.js:334-339):

======================  =====================================================
reference option         Spark mapping
======================  =====================================================
sourceFormat CSV         ``spark.read.csv``
skipLeadingRows 1        ``header=True`` (with explicit schema: skip line 1)
allowJaggedRows          PERMISSIVE null-fills missing trailing columns
allowQuotedNewlines      not supported (see below)
ignoreUnknownValues      extra trailing tokens dropped, row kept (see below)
maxBadRecords 0          corrupt-record count must be 0 or the load raises
explicit schema          widest sniffed headers, manifest-typed prefix +
                         float-typed suffix (schema_registry.expand_schema)
==========================================================================

Scale notes (100 TB target): the driver only touches file *names* and 4 KB
header sniffs; all row data moves executor-side through one
``spark.read.csv`` over the whole batch (the reference likewise builds ONE
load job per task, SURVEY §4 "Batching"). A load scans its CSV once: the
``maxBadRecords`` validation is observed (``pyspark.sql.Observation``)
during the staging write and checked before publish, the way a BigQuery
load job checks it while it loads (BucketToBigQuery.js:334-365). The
``_imported`` anti-join is a predicate-pushed scan of the audit table
filtered to the batch's URIs — never a full-table collect. The audit
append builds its rows on the driver as a local relation
(``session.local_frame``), so the write runs no Python worker.

Quoted newlines are not supported. The reference hardcodes
``allowQuotedNewlines: true`` (BucketToBigQuery.js:337), but Spark's
equivalent (``multiLine=True``) is not split-safe: it reads every CSV file
as one task regardless of size, and it locks onto the first line
separator it sees, breaking the mixed CRLF/CR/LF files the reference
tolerates (js:128). The loader reads newline-delimited records, so a
newline inside a quoted value ends the row there.
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import time
import uuid
from dataclasses import dataclass, field as dc_field

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

from ..session import local_frame, tune
from .fs import fs_for, rel_path, source_match
from .manifest import Field, Manifest, Task
from .schema_registry import (
    SNIFF_BYTES,
    SchemaCompatError,
    build_struct,
    expand_schema,
    infer_partition_field,
    sniff_csv_headers,
    spark_type as spark_type_of,
)

_PDATE = "__pdate"  # internal DAY-partition column (invisible on read_table)


AUDIT_SCHEMA = StructType(
    [  # index.js:73 — `<table>_imported (imported_at timestamp, uri string)`
        StructField("imported_at", TimestampType(), True),
        StructField("uri", StringType(), True),
    ]
)


@dataclass
class LoadReport:
    """What one task's load did — the observable the golden tests assert.

    ``metrics`` carries the structured operational counters the reference
    logs as ``METRIC B2BQ.*`` lines (index.js:16,55,59,77,87,90,95,98):
    per-stage wall seconds (``t_*``) plus count checkpoints, emitted via
    :func:`LoadReport.log_metrics` in the same greppable shape."""

    table: str
    job_id: str
    files_seen: list[str] = dc_field(default_factory=list)
    files_already_imported: list[str] = dc_field(default_factory=list)
    files_loaded: list[str] = dc_field(default_factory=list)
    rows_loaded: int = 0
    schema_fields: list[Field] = dc_field(default_factory=list)
    expanded_fields: list[Field] = dc_field(default_factory=list)
    partition_field: str | None = None
    metrics: dict[str, float] = dc_field(default_factory=dict)

    def log_metrics(self) -> None:
        """Emit ``METRIC b2bqs.<name> <value>`` lines (reference parity)."""
        log = logging.getLogger("b2bqs.metrics")
        for name, value in sorted(self.metrics.items()):
            log.info("METRIC b2bqs.%s.%s %s", self.table, name, value)


class BatchLoader:
    """Warehouse-rooted loader: each task's table lives at
    ``<warehouse>/<dataset>.<table>/`` with ``data/`` (parquet, optionally
    DAY-partitioned), ``_schema.json`` (ordered field registry — the
    BigQuery table-metadata analog), and ``_imported/`` (audit parquet).
    """

    def __init__(self, spark: SparkSession, warehouse: str,
                 job_id_seed: str | None = None,
                 import_ts: str | None = None):
        self.spark = tune(spark)
        self.warehouse = warehouse
        self._job_id_seed = job_id_seed  # deterministic seam for tests (A18)
        # Deterministic seam for the audit clock (A15): when set (a
        # ``yyyy-MM-dd HH:mm:ss`` string), ``store_as_imported`` stamps it
        # instead of wall clock, making the ``_imported`` table fully
        # value-checkable (the driver's q04b oracle). Production default
        # stays current_timestamp — parity with storeAsImported
        # (BucketToBigQuery.js:390-397). Validated here: a malformed
        # string would otherwise cast to NULL executor-side and stamp
        # NULL into every audit row with no error at load time.
        if import_ts is not None:
            time.strptime(import_ts, "%Y-%m-%d %H:%M:%S")
        self._import_ts = import_ts

    # -- paths / metadata ---------------------------------------------------

    def _root(self, task: Task) -> str:
        return os.path.join(self.warehouse, task.qualified_table)

    def _data_path(self, task: Task) -> str:
        return os.path.join(self._root(task), "data")

    def _audit_path(self, task: Task) -> str:
        return os.path.join(self._root(task), "_imported")

    def _schema_path(self, task: Task) -> str:
        return os.path.join(self._root(task), "_schema.json")

    def _load_registry(self, task: Task) -> tuple[list[Field], str | None] | None:
        path = self._schema_path(task)
        fs = fs_for(self.spark, path)
        if not fs.exists(path):
            return None
        raw = json.loads(fs.read_bytes(path).decode("utf-8"))
        return ([Field(f["name"], f["type"]) for f in raw["fields"]],
                raw.get("partition_field"))

    def _save_registry(self, task: Task, fields: list[Field],
                       partition_field: str | None) -> None:
        payload = json.dumps(
            {"fields": [{"name": f.name, "type": f.type} for f in fields],
             "partition_field": partition_field}
        ).encode("utf-8")
        fs = fs_for(self.spark, self._root(task))
        fs.mkdirs(self._root(task))
        fs.write_bytes(self._schema_path(task), payload)

    def _job_id(self, prefix: str, task_index: int) -> str:
        """A18 (BucketToBigQuery.js:225,230):
        ``<prefix><random>__<utc yyyyMMdd'T'HHmmssSSS>__<taskIndex>``."""
        rand = self._job_id_seed or uuid.uuid4().hex[:12]
        stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime()) + "000"
        return f"{prefix}{rand}__{stamp}__{task_index}"

    # -- file resolution ----------------------------------------------------

    def resolve_files(self, task: Task, candidate_files: list[str] | None = None) -> list[str]:
        """Files for a task: either glob the source patterns (batch mode) or
        match injected candidates against them (the event-driven path —
        ``minimatch`` over notification URIs, BucketToBigQuery.js:237-240;
        mock seam per index.js:49-50). Globbing goes through the per-URI
        filesystem, so ``file://``/``gs://`` patterns list remotely; the
        glob and the candidate match ask the same :func:`~.fs.source_match`
        question. Sorted for determinism."""
        out: set[str] = set()
        for pattern in task.sources:
            if candidate_files is None:
                out.update(fs_for(self.spark, pattern).glob(pattern))
            else:
                out.update(f for f in candidate_files if source_match(f, pattern))
        return sorted(out)

    # -- schema resolution --------------------------------------------------

    def _widest_headers(self, files: list[str]) -> list[str] | None:
        """First parseable + last parseable file; LONGER header list wins
        (BucketToBigQuery.js:256-282 — assumes columns only ever grow, so
        sniffing every file is unnecessary; each sniff reads at most
        ``SNIFF_BYTES``)."""
        def sniff(f: str) -> list[str] | None:
            return sniff_csv_headers(fs_for(self.spark, f).read_head(f, SNIFF_BYTES))

        first = None
        for f in files:
            if first := sniff(f):
                break
        if not first:
            return None
        last = None
        if len(files) > 1:
            for f in reversed(files):
                if last := sniff(f):
                    break
        return first if not last or len(first) >= len(last) else last

    def _resolve_schema(self, task: Task, headers: list[str]) -> tuple[
            list[Field], list[Field], str | None]:
        """→ (fields, newly_added, partition_field); raises SchemaCompatError
        on positional incompatibility (BucketToBigQuery.js:291-321)."""
        existing = self._load_registry(task)
        if existing is not None:
            fields, partition_field = existing
            resolved = expand_schema(fields, headers, context="table")
            return resolved, resolved[len(fields):], partition_field
        # New table: manifest fields must be a positional prefix of headers.
        resolved = expand_schema(task.fields, headers, context="manifest")
        if task.partition_field_given:
            partition_field = task.time_partitioning_field  # explicit or null
        else:
            partition_field = infer_partition_field(resolved)
        return resolved, resolved[len(task.fields):], partition_field

    # -- idempotency --------------------------------------------------------

    def files_already_imported(self, task: Task, files: list[str]) -> list[str]:
        """``checkFilesImported`` (BucketToBigQuery.js:384-388): DISTINCT
        uri within the candidate batch. The filter is pushed into the audit
        scan; only the (bounded) batch's matches reach the driver."""
        path = self._audit_path(task)
        if not fs_for(self.spark, path).is_dir(path):
            return []
        hit = {
            r["uri"] for r in
            self.spark.read.schema(AUDIT_SCHEMA).parquet(path)
            .where(F.col("uri").isin(list(dict.fromkeys(files))))
            .select("uri").collect()
        }  # de-duplicated here: a DISTINCT would add a shuffle stage
        return sorted(hit)

    def store_as_imported(self, task: Task, files: list[str]) -> None:
        """``storeAsImported`` (BucketToBigQuery.js:390-397). Timestamps are
        second-precision naive UTC — the reference writes
        ``yyyy-MM-dd HH:mm:ss`` strings for Excel compatibility. The
        ``import_ts`` constructor seam substitutes a fixed stamp. The URIs
        become a driver-built local relation (:func:`~..session.local_frame`),
        so the append runs no Python worker; the stored layout stays
        ``imported_at timestamp, uri string``."""
        if self._import_ts is not None:
            now = F.lit(self._import_ts).cast("timestamp")
        else:
            now = F.date_trunc("second", F.current_timestamp())
        df = local_frame(
            self.spark, [(f,) for f in files], "uri string"
        ).select(now.alias("imported_at"), "uri")
        df.write.mode("append").parquet(self._audit_path(task))

    # -- the load -----------------------------------------------------------

    def _read_csv(self, files: list[str], fields: list[Field]) -> DataFrame:
        """Read the batch with reference load-option parity.

        Every column is read as STRING, then ``try_cast`` to its manifest
        type. This separates the three malformed-row cases exactly as the
        reference's load options do: short rows null-fill (allowJaggedRows),
        extra trailing tokens are dropped with the row kept
        (ignoreUnknownValues), and only a *value that fails its typed cast*
        counts against ``maxBadRecords`` — Spark's own PERMISSIVE corrupt
        marker can't make that distinction (it flags all three).
        """
        raw_schema = StructType(
            [StructField(f.name, StringType(), True) for f in fields]
        )
        return (
            self.spark.read.schema(raw_schema)
            .option("header", True)          # skipLeadingRows: 1
            .option("mode", "PERMISSIVE")    # allowJaggedRows → null-fill
            .csv(files)
        )

    def load_task(self, task: Task, task_index: int = 0, job_id_prefix: str = "",
                  candidate_files: list[str] | None = None,
                  dry_run: bool = False) -> LoadReport:
        """Plan and (unless ``dry_run``) execute one task's load.

        ``dry_run=True`` is the reference's ``DRY_RUN`` seam (index.js:
        79-80): the full plan — files resolved, headers sniffed, schema
        expanded, audit anti-joined — is computed and reported, but
        nothing is written and nothing is audited.
        """
        report = LoadReport(table=task.qualified_table,
                            job_id=self._job_id(job_id_prefix, task_index))
        t_start = last = time.perf_counter()

        def mark(stage: str) -> None:  # per-stage wall checkpoint (METRIC)
            nonlocal last
            now = time.perf_counter()
            report.metrics[f"t_{stage}"] = round(now - last, 4)
            last = now

        def finish() -> LoadReport:
            report.metrics.update(
                files_seen=len(report.files_seen),
                files_skipped_imported=len(report.files_already_imported),
                files_loaded=len(report.files_loaded),
                rows_loaded=report.rows_loaded,
                schema_expansions=len(report.expanded_fields),
                t_total=round(time.perf_counter() - t_start, 4),
            )
            report.log_metrics()
            return report

        files = self.resolve_files(task, candidate_files)
        report.files_seen = files
        mark("resolve_files")
        if not files:
            return finish()

        headers = self._widest_headers(files)
        mark("sniff_headers")
        if headers is None:  # no parseable file → skip task (js:263-264)
            return finish()

        fields, added, partition_field = self._resolve_schema(task, headers)
        report.schema_fields, report.expanded_fields = fields, added
        report.partition_field = partition_field
        mark("resolve_schema")

        report.files_already_imported = self.files_already_imported(task, files)
        to_load = sorted(set(files) - set(report.files_already_imported))
        report.files_loaded = to_load
        mark("audit_anti_join")
        if not to_load or dry_run:
            return finish()

        raw = self._read_csv(to_load, fields)
        # A cell is BAD iff its raw text is present but fails the typed cast
        # (try_cast → NULL). The row count and the bad-row count are
        # observed on the raw frame while the staging write scans it, so the
        # batch is read once; maxBadRecords=0 is checked after that write,
        # before anything is published.
        typed_cols = [F.col(f.name).try_cast(spark_type_of(f.type)).alias(f.name)
                      for f in fields]
        bad_row = F.lit(False)
        for f in fields:
            bad_row = bad_row | (
                F.col(f.name).isNotNull()
                & F.col(f.name).try_cast(spark_type_of(f.type)).isNull()
            )
        count_exprs = (F.count(F.lit(1)).alias("rows"),
                       F.count(F.when(bad_row, 1)).alias("bad"))
        counts = Observation()
        data = raw.observe(counts, *count_exprs).select(*typed_cols)

        # Idempotent staged commit: the batch is written to a staging dir
        # keyed by a DETERMINISTIC hash of the file set, then published
        # into the live table under batch-keyed file names. A retry after
        # a crash anywhere in write→publish→audit re-stages and re-publishes
        # the SAME names (replacing any partial output) instead of
        # appending duplicates — plain `mode("append")` would make the
        # crash window between data write and audit append at-least-once.
        batch_key = hashlib.sha1("\n".join(to_load).encode()).hexdigest()[:16]
        data_dir = self._data_path(task)
        staging = f"{data_dir}.staging/{batch_key}"
        fs_for(self.spark, staging).delete(staging)
        if partition_field:
            # DAY time-partitioning (BucketToBigQuery.js:350-354): an internal
            # date column drives the layout; read_table() hides it, and date
            # predicates on <partition_field> prune directories (B7).
            # Repartition BY the partition column first: without it every
            # shuffle task writes a file into every date directory —
            # days × tasks tiny files (measured 10× slower read-back at
            # sf0.1; catastrophic at 100 TB). With it, each date's rows land
            # in exactly one task → one well-sized file per day per batch.
            writer = data.withColumn(_PDATE, F.to_date(F.col(partition_field)))
            writer = writer.repartition(F.col(_PDATE))
            writer.write.mode("overwrite").partitionBy(_PDATE).parquet(staging)
        else:
            data.write.mode("overwrite").parquet(staging)
        mark("stage_write")
        try:
            n_rows, n_bad = counts.get["rows"], counts.get["bad"]
        except Py4JJavaError:
            # No metrics: AQE replaced the plan of an empty shuffle, and the
            # observation with it (a 0-row partitioned batch). Count rather
            # than assume 0; only such batches are read twice.
            n_rows, n_bad = raw.select(*count_exprs).first()
        if n_bad:
            fs_for(self.spark, staging).delete(staging)
            sample = raw.where(bad_row).first()
            raise ValueError(
                f"maxBadRecords=0 exceeded: {n_bad} unparseable row(s); "
                f"first: {sample.asDict()!r}"
            )
        mark("validate")
        self._commit_staged(staging, data_dir, batch_key)
        mark("publish")
        report.rows_loaded = n_rows

        self._save_registry(task, fields, partition_field)
        self.store_as_imported(task, to_load)  # AFTER the successful publish
        mark("audit_append")
        return finish()

    def _commit_staged(self, staging: str, data_dir: str, batch_key: str) -> None:
        """Publish one staged batch into the live table, idempotently.

        Staged part files move to deterministic batch-keyed names
        (``part-<seq>-<batch_key>.parquet`` per partition directory), after
        deleting anything a previous partial publish of THIS batch left
        behind — so publish converges to exactly-once output no matter how
        many times the batch is retried. FileSystem.rename is the commit
        primitive here (atomic on local/HDFS); on an object store without
        atomic rename this same staged-commit pattern is what a
        transactional table format's commit log provides — swap this
        method for a Delta/Iceberg append there.
        """
        fs = fs_for(self.spark, data_dir)
        fs.mkdirs(data_dir)
        for stale in fs.list_recursive(data_dir):
            if stale.endswith(f"-{batch_key}.parquet"):
                fs.delete(stale)
        staged = sorted(
            f for f in fs.list_recursive(staging) if f.endswith(".parquet")
        )
        seq: dict[str, int] = {}
        for src in staged:
            rel_dir = os.path.dirname(rel_path(src, staging))
            tgt_dir = f"{data_dir}/{rel_dir}" if rel_dir else data_dir
            i = seq.get(tgt_dir, 0)
            seq[tgt_dir] = i + 1
            fs.rename_overwrite(
                src, f"{tgt_dir}/part-{i:05d}-{batch_key}.parquet"
            )
        fs.delete(staging)

    def run(self, manifest: Manifest,
            candidate_files: list[str] | None = None,
            dry_run: bool = False) -> list[LoadReport]:
        """The ``loadCreatedFiles`` driver loop (index.js:37-98), batch mode."""
        return [
            self.load_task(t, i, manifest.job_id_prefix, candidate_files, dry_run)
            for i, t in enumerate(manifest.tasks)
        ]

    # -- maintenance --------------------------------------------------------

    def compact(self, task: Task) -> int:
        """Compact the table: rewrite so each DAY partition holds one file.

        Append-per-batch accumulates one file per partition per batch; at
        daily cadence over years that's the small-files problem that slows
        every downstream scan (file listing + footer reads dominate). The
        rewrite repartitions by the partition column (each date → one
        task → one file; an unpartitioned table is coalesced), writes
        beside the live data, then swaps directories. It reads through
        :meth:`read_table_partitioned`, so columns a later batch added
        survive the rewrite, null-filled in the older rows. Returns the
        file count after compaction (:meth:`data_files`). At warehouse
        scale, run per recent-partition instead of whole-table.
        """
        data = self._data_path(task)
        fs = fs_for(self.spark, data)
        df = self.read_table_partitioned(task)
        tmp, old = data + ".compacting", data + ".old"
        fs.delete(tmp)
        if _PDATE in df.columns:
            df.repartition(F.col(_PDATE)).write.partitionBy(_PDATE).parquet(tmp)
        else:
            df.coalesce(max(1, df.rdd.getNumPartitions() // 8)).write.parquet(tmp)
        fs.delete(old)
        fs.rename_overwrite(data, old)
        fs.rename_overwrite(tmp, data)
        fs.delete(old)
        return len(self.data_files(task))

    def data_files(self, task: Task) -> list[str]:
        """The parquet files of the table's live ``data/`` directory."""
        data = self._data_path(task)
        return [f for f in fs_for(self.spark, data).list_recursive(data)
                if f.endswith(".parquet")]

    # -- read side ----------------------------------------------------------

    def _table_struct(self, task: Task) -> StructType:
        """The table's schema as the registry records it, plus the internal
        ``__pdate date`` column when the table is DAY-partitioned."""
        reg = self._load_registry(task)
        if reg is None:
            raise ValueError(f"table {task.qualified_table} has no registry")
        fields, partition_field = reg
        struct = build_struct(fields)
        return struct.add(_PDATE, "date", True) if partition_field else struct

    def read_table_partitioned(self, task: Task) -> DataFrame:
        """The loaded table with its internal partition column exposed
        (for pruning queries): ``data/`` read with :meth:`_table_struct`
        — the one registry-typed read every read of a loaded table goes
        through, never footer sampling: files written before a schema
        expansion lack the new float columns, and the explicit schema
        null-fills them (the BigQuery behavior) without the cost of
        ``mergeSchema`` footer unioning. A footer-sampled read would take
        the columns of one file and silently drop the rest."""
        return self.spark.read.schema(self._table_struct(task)).parquet(
            self._data_path(task)
        )

    def read_table(self, task: Task) -> DataFrame:
        """The loaded table as users see it (partition plumbing hidden —
        BigQuery DAY partitioning adds no visible column)."""
        return self.read_table_partitioned(task).drop(_PDATE)

    def read_audit(self, task: Task) -> DataFrame:
        return self.spark.read.schema(AUDIT_SCHEMA).parquet(self._audit_path(task))

    def register_catalog_table(self, task: Task) -> str:
        """Register the loaded table in the Spark catalog (A16's
        ``tables.insert`` analog) so plain ``spark.sql`` sees it without
        manual view registration.

        An EXTERNAL datasource table over the live ``data/`` directory:
        it declares :meth:`_table_struct` explicitly (so pre-expansion files
        null-fill new columns exactly like :meth:`read_table`), with the
        DAY partition column PARTITIONED BY and recovered from the
        directory layout — date predicates on it prune partitions through
        the catalog too. The catalog lists ``data/`` itself, so no
        DataFrame is read here. Re-run after a load that expanded the
        schema or added partitions (CREATE OR REPLACE + recover:
        metadata-only). Returns the qualified identifier.
        """
        struct = self._table_struct(task)
        db, tbl = task.dataset, task.table
        ident = f"`{db}`.`{tbl}`"
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in struct
        )
        partitioned = _PDATE in struct.fieldNames()
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS `{db}`")
        self.spark.sql(f"DROP TABLE IF EXISTS {ident}")
        part = f"PARTITIONED BY (`{_PDATE}`)" if partitioned else ""
        self.spark.sql(
            f"CREATE TABLE {ident} ({cols}) USING parquet {part} "
            f"LOCATION '{self._data_path(task)}'"
        )
        if partitioned:
            self.spark.catalog.recoverPartitions(f"{db}.{tbl}")
        return f"{db}.{tbl}"


__all__ = ["BatchLoader", "LoadReport", "AUDIT_SCHEMA", "SchemaCompatError"]
