"""Resumable per-partition checkpoint lineage (SURVEY.md §4.2 #3).

A lineage manifest table records, per (partition, rule_set_hash): verdict,
row/violation counts, and completion time. A resumed run anti-joins the
input's partitions against completed lineage and validates ONLY pending
partitions — the engine-level analogue of Iceberg partition pruning; an
interrupted 10^12-turn run skips everything already validated.

Correctness note: partition-grain resume is sound because every
conversation-grain rule (uniqueness on (conv_id, turn_idx), ordering,
contiguity, per-conv aggregates) is partition-LOCAL under bucket(conv_id)
partitioning — a conversation never spans partitions. Referential rules
join against the full reference table regardless of which fact partitions
are pending, so they stay correct too.

Storage is a plain parquet directory (append-mode) — the TableIO seam for
Iceberg (`snapshot_id` lineage) when a runtime jar is present (§7.0).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from schema_enforcer_spark.engine import ValidationEngine, ValidationReport

LINEAGE_SCHEMA_DDL = (
    "partition_id string, rule_set_hash string, schema_id string, verdict string, "
    "n_rows bigint, n_violations bigint, snapshot_id string, validated_at timestamp, "
    "run_ns bigint"
)


class CheckpointManager:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # the pending subset of the most recent run() — callers pass it
        # back to record() so lineage row counts don't re-aggregate the
        # full input
        self.last_pending: DataFrame | None = None

    def lineage(self) -> DataFrame:
        # probe through Spark, not the driver's local filesystem — a
        # driver-side os.path.exists() on an hdfs://, s3a://, ... checkpoint
        # URI is always False and would silently disable resume.
        # ONLY path-not-found means first-run: a corrupt lineage file, schema
        # mismatch, or storage/credential error must FAIL LOUDLY — swallowing
        # it would silently disable resume, re-validate everything, and
        # append duplicate lineage with no signal the checkpoint was
        # unreadable.
        from pyspark.errors import AnalysisException

        try:
            df = self.spark.read.parquet(self.path)
        except AnalysisException as e:
            cls = e.getCondition() if hasattr(e, "getCondition") else None
            # UNABLE_TO_INFER_SCHEMA = the directory exists but holds no
            # parquet yet (ops pre-created it, or a first run died before any
            # commit) — semantically identical to first-run, not corruption
            if cls in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA") or any(
                f"[{c}]" in str(e) for c in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
            ):
                return self.spark.createDataFrame([], LINEAGE_SCHEMA_DDL)
            raise
        if "run_ns" not in df.columns:  # lineage written before run_ns existed
            df = df.withColumn("run_ns", F.lit(0).cast("bigint"))
        return df

    def completed_partitions(self, rule_set_hash: str) -> DataFrame:
        """Partitions whose validation is DONE: a recorded PASS verdict under
        this rule-set hash. FAILed partitions are deliberately NOT complete —
        treating them as done would let a resumed run find nothing pending
        and exit 0 while violations exist (masking the CLI's 'exit 1 iff any
        violation' contract). A FAILed partition re-validates on resume: same
        data → same FAIL → nonzero exit; fixed data → PASS and the lineage
        gains the newer PASS row."""
        # the NEWEST verdict decides: a partition with an old PASS and a
        # newer FAIL (re-validated after a data change) is NOT complete
        latest = (
            self.lineage()
            .filter(F.col("rule_set_hash") == rule_set_hash)
            .groupBy("partition_id")
            .agg(
                # run_ns breaks ties between two record() calls landing in
                # the same current_timestamp() microsecond
                F.max_by(F.struct("verdict", "n_rows"), F.struct("validated_at", "run_ns")).alias("_latest")
            )
        )
        return latest.filter(F.col("_latest.verdict") == "PASS").select(
            "partition_id", F.col("_latest.n_rows").alias("n_rows")
        )

    def table_grain_failed(self, rule_set_hash: str) -> bool:
        """True iff the NEWEST 'table'-instance verdict under this rule-set
        hash is FAIL. Table-grain rules (strict_columns, drift) attribute to
        instance 'table', which no data row carries — partition-level resume
        can never clear them, so an unresolved table FAIL forces a full
        re-validation instead of a nothing-pending success."""
        # the newest row by (validated_at, run_ns), the max_by key of
        # completed_partitions: run_ns breaks validated_at ties. A sort +
        # limit, not a global max_by, which would cost a second Spark job
        # (its shuffle stage) on every resume
        rows = (
            self.lineage()
            .filter((F.col("rule_set_hash") == rule_set_hash) & (F.col("partition_id") == "table"))
            .orderBy(F.col("validated_at").desc(), F.col("run_ns").desc())
            .limit(1)
            .collect()
        )
        return bool(rows) and rows[0]["verdict"] == "FAIL"

    def pending(self, df: DataFrame, engine: ValidationEngine, verify_counts: bool = False) -> DataFrame:
        """Rows of *df* in partitions NOT yet validated under the engine's
        current rule-set hash. Broadcast anti-join: the lineage key set is
        partition-count-sized (thousands), never row-sized.

        verify_counts=True additionally re-validates any PASSed partition
        whose current row count differs from the recorded one — the Parquet-
        mode stand-in for Iceberg snapshot-id lineage (one extra count
        aggregation over the input; with Iceberg, snapshot comparison makes
        it free)."""
        h = engine.manifest.rule_set_hash()
        if self.table_grain_failed(h):
            return df  # unresolved table-grain FAIL: everything re-validates
        done = self.completed_partitions(h).withColumnRenamed("partition_id", "_inst")
        keyed = df.withColumn("_inst", engine._instance_col(df))
        if verify_counts:
            current = keyed.groupBy("_inst").agg(F.count(F.lit(1)).alias("_cur_rows"))
            unchanged = (
                done.join(F.broadcast(current), "_inst")
                .filter(F.col("n_rows") == F.col("_cur_rows"))
                .select("_inst")
            )
            return keyed.join(F.broadcast(unchanged), "_inst", "left_anti").drop("_inst")
        return keyed.join(F.broadcast(done.select("_inst")), "_inst", "left_anti").drop("_inst")

    def record(self, df: DataFrame, engine: ValidationEngine, report: ValidationReport) -> None:
        """Append lineage rows for every partition in this run. Call AFTER
        the report's outputs are materialized/written — recording first would
        mark partitions complete whose results never landed (the next resume
        would skip them forever). `df` may be the full input: lineage rows
        come from the report's verdicts (left-joined for counts), so
        partitions outside this run's verdict set never gain rows."""
        import time

        h = engine.manifest.rule_set_hash()
        rows_per_part = (
            df.groupBy(engine._instance_col(df).alias("instance_name"))
            .agg(F.count(F.lit(1)).alias("n_rows"))
        )
        lineage = (
            report.verdicts.join(rows_per_part, "instance_name", "left")
            .select(
                F.col("instance_name").alias("partition_id"),
                F.lit(h).alias("rule_set_hash"),
                F.col("schema_id"),
                F.col("result").alias("verdict"),
                F.coalesce(F.col("n_rows"), F.lit(0)).cast("bigint").alias("n_rows"),
                F.col("n_violations").cast("bigint").alias("n_violations"),
                F.lit(None).cast("string").alias("snapshot_id"),
                F.current_timestamp().alias("validated_at"),
                # driver-side monotonic stamp: two record() calls can share a
                # current_timestamp() microsecond; max_by needs a total order
                F.lit(time.time_ns()).cast("bigint").alias("run_ns"),
            )
        )
        lineage.write.mode("append").parquet(self.path)

    def run(
        self,
        df: DataFrame,
        engine: ValidationEngine,
        ref_tables: dict[str, DataFrame] | None = None,
        verify_counts: bool = False,
    ) -> tuple[ValidationReport | None, int]:
        """Validate only pending partitions; return (report, n_pending_rows).
        report is None when nothing is pending — which, because only PASS
        verdicts complete a partition, means every partition of the input
        has a recorded PASS.

        Nothing is recorded here: the caller materializes its own outputs
        FIRST and then calls ``record(self.last_pending, engine, report)``."""
        pend = self.pending(df, engine, verify_counts=verify_counts)
        self.last_pending = pend
        n = pend.count()
        if n == 0:
            return None, 0
        return engine.validate(pend, ref_tables), n
