"""The benchmark workloads.

Each workload generates its inputs from the seed (``generate``, no Spark,
outside the measured set-up), runs one request through a public entry
point (``request``) and checks that request's output against expectations
computed outside Spark (``check``; DuckDB reads the sinks). ``before`` runs
untimed ahead of each request, ``finish`` checks end-of-run invariants.
The first requests of a run are an untimed warm-up (``run.WARMUP``).
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil

import duckdb

from perfbench import gen

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MANIFESTS = os.path.join(REPO, "manifests")


def _cli(argv: list[str]) -> int:
    """``cli.main`` with its FAIL lines and summary kept off our stdout."""
    from schema_enforcer_spark import cli

    with contextlib.redirect_stdout(io.StringIO()):
        return cli.main(argv)


def _manifest_dir(path: str, names: list[str]) -> str:
    os.makedirs(path)
    for n in names:
        shutil.copy(os.path.join(MANIFESTS, n), path)
    return path


class Workload:
    name = ""
    root_span = "cli.main"

    def __init__(self, work: str, seed: int, smoke: bool):
        self.work, self.seed, self.smoke = work, seed, smoke
        self.db = duckdb.connect()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def before(self, i: int) -> None:
        pass

    def finish(self) -> str | None:
        return None

    def notes(self) -> dict[str, float]:
        """Per-request facts the traced run reports besides spans and jobs."""
        return {}

    def rows(self, sql: str, *params) -> list[tuple]:
        return self.db.execute(sql, list(params)).fetchall()

    def close(self) -> None:
        self.db.close()


class SmallCli(Workload):
    """The one-shot CLI user: a small table with one of each ``synth.inject``
    case through ``cli.main`` over four manifests (base, quality,
    referential, agg). Driver plan build and per-job overhead dominate."""

    name = "small_cli"

    # (rule id, conversation) each injected case must produce
    CASE_RULES = {
        "invalid_enum": "schemas/transcripts_base/enum/role",
        "missing_required": "schemas/transcripts_base/required/role",
        "invalid_pattern": "schemas/transcripts_base/pattern/tool",
        "dup_turn": "schemas/transcripts_base/unique/conv_id+turn_idx",
        "orphan_conv": "schemas/transcripts_referential/referential/conv_id",
        "disordered": "schemas/transcripts_base/ordering/ts",
        "agg_threshold": "schemas/transcripts_agg/aggregate/conv_id",
        "non_contiguous": "schemas/transcripts_base/contiguous/turn_idx",
        "out_of_range": "schemas/transcripts_base/range/turn_idx",
    }

    def generate(self) -> None:
        from schema_enforcer_spark.synth import INJECTION_KEYS

        n_convs = 200 if self.smoke else 2000
        self.exp = gen.small_tables(self.seed, n_convs, 32, INJECTION_KEYS, self.path("in"))
        self.expected_cases = {
            (rule, self._conv(INJECTION_KEYS[case][-1])) for case, rule in self.CASE_RULES.items()
        }
        # DuckDB over the same files must find exactly the constructed orphan
        # and assistant-less conversations (the orphan has a system turn only)
        tr, conv = self.path("in", "transcripts", "*.parquet"), self.path("in", "conversations", "*.parquet")
        orphans = {c for (c,) in self.rows(f"select conv_id from '{tr}' anti join '{conv}' using (conv_id)")}
        no_assistant = {c for (c,) in self.rows(
            f"select conv_id from '{tr}' group by 1 having count(*) filter (role = 'assistant') = 0"
        )}
        orphan = INJECTION_KEYS["orphan_conv"][0][0]
        if orphans != {orphan} or no_assistant != {orphan, INJECTION_KEYS["agg_threshold"][0]}:
            raise RuntimeError(f"DuckDB finds orphans {orphans} and assistant-less {no_assistant}")
        ((self.turns, convs),) = self.rows(f"select (select count(*) from '{tr}'), (select count(*) from '{conv}')")
        self.table_rows = self.turns + convs
        mdir = _manifest_dir(
            self.path("manifests"),
            ["transcripts_base.yml", "transcripts_quality.yml", "transcripts_referential.yml", "transcripts_agg.yml"],
        )
        self.argv = [
            "--manifest", mdir, "--input", self.path("in", "transcripts"),
            "--ref-table", f"conversations={self.path('in', 'conversations')}",
            "--output", self.path("out"), "--summary",
        ]

    @staticmethod
    def _conv(key) -> str:
        return key if isinstance(key, str) else key[0]

    def request(self, i: int) -> int:
        return _cli(self.argv)

    def check(self, i: int, rc: int) -> str | None:
        if rc != 1:
            return f"exit code {rc}, expected 1"
        viol = self.path("out", "violations", "*.parquet")
        got = set(self.rows(f"select distinct schema_id, absolute_path[1] from '{viol}'"))
        missing = self.expected_cases - got
        if missing:
            return f"injected cases not reported: {sorted(missing)}"
        stray = {c for _, c in got} - set(self.exp["injected_convs"])
        if stray:
            return f"violations on clean conversations: {sorted(stray)[:5]}"
        fails = {p for (p,) in self.rows(
            f"select distinct instance_name from '{self.path('out', 'verdicts', '*.parquet')}' where result = 'FAIL'"
        )}
        if fails != {str(p) for p in self.exp["fail_parts"]}:
            return f"FAIL partitions {sorted(fails)} != {self.exp['fail_parts']}"
        return None


class IncrementalResume(Workload):
    """Write beside read: each request appends a day and resumes a
    checkpointed ``cli.main`` (lineage anti-join, sink partition replace,
    lineage and stats appends). FAILed days re-validate on every resume.
    Request 0, the first warm-up request, is the initial checkpointed run
    over the first days."""

    name = "incremental_resume"

    def generate(self) -> None:
        self.first_days, self.convs_per_day = (3, 40) if self.smoke else (10, 500)
        self.day_rows: list[int] = []
        for d in range(self.first_days):
            self.day_rows.append(gen.write_day(self.seed, d, self.convs_per_day, self.path("in", "table")))
        self.argv = self._argv("out", "ckpt") + ["--stats-columns", "role,turn_idx"]

    def _argv(self, out: str, ckpt: str) -> list[str]:
        return [
            "--manifest", os.path.join(MANIFESTS, "transcripts_base.yml"),
            "--input", self.path("in", "table"), "--checkpoint", self.path(ckpt),
            "--output", self.path(out), "--instance-expr", "day",
        ]

    def before(self, i: int) -> None:
        if i == 0:
            return  # the warm-up request is the initial checkpointed run
        self.day_rows.append(gen.write_day(self.seed, len(self.day_rows), self.convs_per_day, self.path("in", "table")))

    def request(self, i: int) -> int:
        return _cli(self.argv)

    @property
    def table_rows(self) -> int:
        return sum(self.day_rows)

    def notes(self) -> dict[str, float]:
        return {"lineage_files": len([f for f in os.listdir(self.path("ckpt")) if f.endswith(".parquet")])}

    def _verdicts(self, out: str) -> dict[str, str]:
        return dict(self.rows(
            f"select instance_name::varchar, result from read_parquet('{self.path(out, 'verdicts', '*', '*.parquet')}', "
            "hive_partitioning = true)"
        ))

    def _check_days(self, rc: int) -> str | None:
        fails = {gen.day_name(d): gen.day_fails(d) for d in range(len(self.day_rows))}
        if rc != int(any(fails.values())):
            return f"exit code {rc}"
        expected = {day: "FAIL" if f else "PASS" for day, f in fails.items()}
        got = self._verdicts("out")
        if got != expected:
            return f"day verdicts differ on {sorted(k for k in expected if got.get(k) != expected[k])[:5]}"
        return None

    def check(self, i: int, rc: int) -> str | None:
        return self._check_days(rc)

    def finish(self) -> str | None:
        """The resumed sink and lineage must equal one uninterrupted run."""
        _cli(self._argv("out_once", "ckpt_once"))
        if self._verdicts("out") != self._verdicts("out_once"):
            return "resumed verdicts differ from an uninterrupted run"
        cols = "instance_name::varchar, schema_id, absolute_path::varchar, failing_value, message"
        a = f"read_parquet('{self.path('out', 'violations', '*', '*.parquet')}', hive_partitioning = true)"
        b = f"read_parquet('{self.path('out_once', 'violations', '*', '*.parquet')}', hive_partitioning = true)"
        ((diff,),) = self.rows(
            f"select count(*) from ((select {cols} from {a} except all select {cols} from {b}) "
            f"union all (select {cols} from {b} except all select {cols} from {a}))"
        )
        if diff:
            return f"resumed violations differ from an uninterrupted run in {diff} rows"
        latest = (
            "select partition_id, verdict, n_rows, n_violations from '{}' qualify row_number() over "
            "(partition by partition_id order by validated_at desc, run_ns desc) = 1 order by 1"
        )
        if self.rows(latest.format(self.path("ckpt", "*.parquet"))) != self.rows(
            latest.format(self.path("ckpt_once", "*.parquet"))
        ):
            return "resumed lineage differs from an uninterrupted run"
        return None


class NearDupGroups(Workload):
    """``functions.dedup.near_dup_groups`` then a keep-canonical join and a
    Parquet sink: MinHash/LSH shuffles and the eager connected-components
    rounds do the work, the validation layers sit idle."""

    name = "near_dup_groups"
    root_span = "request"
    THRESHOLD = 0.8

    def generate(self) -> None:
        n_docs = 300 if self.smoke else 6000
        self.kept_ids = gen.dedup_docs(self.seed, n_docs, 0.1, 50_000, self.path("in"), self.THRESHOLD)
        self.table_rows = n_docs

    def request(self, i: int) -> None:
        from schema_enforcer_spark.functions import dedup

        docs = self.spark.read.parquet(self.path("in", "docs"))
        groups = dedup.near_dup_groups(docs, threshold=self.THRESHOLD, num_hashes=64, bands=32)
        keep = groups.filter("not is_duplicate").select("doc_id")
        docs.join(keep, "doc_id").write.mode("overwrite").parquet(self.path("out"))

    def check(self, i: int, _) -> str | None:
        got = [d for (d,) in self.rows(f"select doc_id from '{self.path('out', '*.parquet')}' order by 1")]
        if got != self.kept_ids:
            return f"kept {len(got)} documents, expected {len(self.kept_ids)}"
        return None


WORKLOADS = {w.name: w for w in (SmallCli, IncrementalResume, NearDupGroups)}
