"""Seeded input generators and their independently computed expectations.

Inputs are built with numpy and written with pyarrow, never through the
program under test, so every expected result below is known by
construction (or computed by DuckDB over the same Parquet files) and is
independent of the Spark engine being measured.

The transcripts shape matches ``schema_enforcer_spark.synth``:
``conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp, partition_id int``. Clean conversations satisfy every rule
of the four ``manifests/transcripts_*.yml`` manifests: turn 0 is the
system turn, odd turns are user (or tool) turns, even turns from 2 on are
assistant turns, timestamps strictly increase and turn indices are
contiguous.
"""

from __future__ import annotations

import os
import zlib
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
    "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa",
    "quebec", "romeo", "sierra", "tango", "uniform", "victor", "whiskey",
    "xray", "yankee", "zulu", "the", "and", "is", "of", "to", "in",
]
BASE_TS_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z
DAY_US = 86_400_000_000

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("partition_id", pa.int32()),
    ]
)


def conv_name(i: int) -> str:
    return f"conv-{i:08d}"


def bucket(conv_id: str, num_buckets: int) -> int:
    return zlib.crc32(conv_id.encode()) % num_buckets


def transcripts(
    rng: np.random.Generator,
    conv_ids: range,
    num_buckets: int,
) -> dict[str, list]:
    """Clean transcripts as column lists, 5-14 turns per conversation."""
    n = len(conv_ids)
    sizes = rng.integers(5, 15, size=n)
    total = int(sizes.sum())
    starts = np.repeat(np.cumsum(sizes) - sizes, sizes)
    turn = (np.arange(total) - starts).astype(np.int32)
    conv_pos = np.repeat(np.arange(n), sizes)
    tool_pick = rng.integers(0, 10, size=total)
    is_tool = (turn % 2 == 1) & (tool_pick == 9)
    role = np.where(turn == 0, "system", np.where(turn % 2 == 1, "user", "assistant")).astype(object)
    role[is_tool] = "tool"
    tool = np.full(total, None, dtype=object)
    tool[is_tool] = np.char.add("tool_", (tool_pick[is_tool] % 5).astype(str)).astype(object)
    n_words = rng.integers(3, 33, size=total)
    word_idx = rng.integers(0, len(WORDS), size=int(n_words.sum()))
    words = np.array(WORDS, dtype=object)[word_idx]
    cuts = np.cumsum(n_words)[:-1]
    text = [" ".join(w) for w in np.split(words, cuts)]
    gaps = rng.integers(5, 60, size=total) * 1_000_000
    # strictly increasing per conversation: cumulative gaps from the conv's base
    cum = np.cumsum(gaps)
    conv_start = np.repeat(cum[np.cumsum(sizes) - sizes] - gaps[np.cumsum(sizes) - sizes], sizes)
    ids = np.asarray(conv_ids)
    ts = BASE_TS_US + ids[conv_pos] * 60_000_000 + (cum - conv_start)
    names = [conv_name(int(c)) for c in ids]
    buckets = [bucket(c, num_buckets) for c in names]
    return {
        "conv_id": [names[p] for p in conv_pos],
        "turn_idx": turn.tolist(),
        "role": role.tolist(),
        "text": text,
        "tool": tool.tolist(),
        "ts": ts.tolist(),
        "partition_id": [buckets[p] for p in conv_pos],
    }


def write(cols: dict[str, list], path: str, extra: dict[str, list] | None = None) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pydict(cols, schema=SCHEMA)
    for name, values in (extra or {}).items():
        table = table.append_column(name, pa.array(values, pa.string()))
    pq.write_table(table, path)


def _rows_of(cols: dict[str, list]) -> dict[tuple[str, int], int]:
    return {(c, t): i for i, (c, t) in enumerate(zip(cols["conv_id"], cols["turn_idx"]))}


# ---------------------------------------------------------------------------
# small_cli: one of each synth.inject case over a small table
# ---------------------------------------------------------------------------


def small_tables(seed: int, n_convs: int, num_buckets: int, keys: dict, root: str) -> dict:
    """Clean table plus one instance of every ``synth.inject`` case at the
    exact keys of ``synth.INJECTION_KEYS``, an ``extra_column`` (which no
    non-strict manifest flags) and the ``conversations`` dimension."""
    rng = np.random.default_rng(seed)
    cols = transcripts(rng, range(n_convs), num_buckets)
    at = _rows_of(cols)

    def row(case):
        return at[keys[case][0]]

    cols["role"][row("invalid_enum")] = "operator"
    (c1, t1), (c2, t2) = keys["missing_required"]
    cols["text"][at[(c1, t1)]] = None
    cols["role"][at[(c2, t2)]] = None
    r = row("invalid_pattern")
    cols["role"][r], cols["tool"][r] = "tool", "Bad-Tool!"
    r = row("disordered")
    cols["ts"][r] -= DAY_US
    (agg_conv,) = keys["agg_threshold"]
    for i, c in enumerate(cols["conv_id"]):
        if c == agg_conv:
            if cols["role"][i] == "assistant":
                cols["role"][i] = "user"
            cols["tool"][i] = None
            if cols["role"][i] == "tool":
                cols["role"][i] = "user"
    cols["turn_idx"][row("non_contiguous")] = 20
    cols["turn_idx"][row("out_of_range")] = -1
    dup = row("dup_turn")
    orphan_conv = keys["orphan_conv"][0][0]
    for k in cols:
        cols[k].append(cols[k][dup])
    for k in cols:
        cols[k].append(cols[k][0])
    cols["conv_id"][-1] = orphan_conv
    cols["partition_id"][-1] = bucket(orphan_conv, num_buckets)
    extra = {"debug_blob": ["x"] * len(cols["conv_id"])}
    write(cols, os.path.join(root, "transcripts", "part-0.parquet"), extra)
    injected = {c for case in keys.values() for k in case for c in ([k] if isinstance(k, str) else [k[0]])}

    channels = rng.integers(0, 3, size=n_convs)
    conv_tbl = pa.table(
        {
            "conv_id": [conv_name(i) for i in range(n_convs)],
            "channel": [("api", "web", "batch")[c] for c in channels],
            "created_ts": pa.array([BASE_TS_US - DAY_US] * n_convs, pa.timestamp("us", tz="UTC")),
        }
    )
    os.makedirs(os.path.join(root, "conversations"), exist_ok=True)
    pq.write_table(conv_tbl, os.path.join(root, "conversations", "part-0.parquet"))
    return {
        "injected_convs": sorted(injected),
        "fail_parts": sorted({bucket(c, num_buckets) for c in injected}),
    }


# ---------------------------------------------------------------------------
# incremental_resume: a day-partitioned table, one day appended per request
# ---------------------------------------------------------------------------


def day_name(day: int) -> str:
    return np.datetime_as_string(np.datetime64("2026-01-01") + np.timedelta64(day, "D"))


def day_fails(day: int) -> bool:
    """Every third day carries a defect. The seed picks the defect rows, not
    the days: FAILed days re-validate on every resume, so a seed-dependent
    count of them would change how much work a request does."""
    return day % 3 == 2


def write_day(seed: int, day: int, convs_per_day: int, root: str) -> int:
    """Append one day's files under ``root/day=YYYY-MM-DD``; returns its rows."""
    rng = np.random.default_rng([seed, day])
    first = day * convs_per_day
    cols = transcripts(rng, range(first, first + convs_per_day), 32)
    if day_fails(day):
        turn = cols["turn_idx"]
        for r in rng.choice([i for i, t in enumerate(turn) if t == 2], size=2, replace=False):
            cols["role"][r] = "operator"
    write(cols, os.path.join(root, f"day={day_name(day)}", "part-0.parquet"))
    return len(cols["conv_id"])


# ---------------------------------------------------------------------------
# near_dup_groups: documents with planted near-copies
# ---------------------------------------------------------------------------


def shingles(text: str, n: int = 3) -> set[tuple[str, ...]]:
    """Word n-gram set, tokenized like ``functions.textops.tokens`` on
    lower-cased text (the generated text is lower-case, single-spaced)."""
    toks = text.lower().split()
    if len(toks) < n:
        return {tuple(toks)}
    return {tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    """Exact shingle Jaccard, rounded half-up to 6 places as
    ``functions.dedup.minhash_near_dups`` rounds before its threshold test."""
    sa, sb = shingles(a), shingles(b)
    exact = Decimal(len(sa & sb)) / Decimal(len(sa | sb))
    return float(exact.quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def dedup_docs(seed: int, n_docs: int, copy_share: float, vocab: int, root: str, threshold: float) -> list[int]:
    """Documents of 40-80 words over a ``vocab``-word vocabulary, so unrelated
    documents share almost no 3-word shingles. A ``copy_share`` of them are
    near-copies of an earlier original (a few words replaced); the exact
    Jaccard of every planted pair is computed here. Returns the ids a
    keep-canonical dedup keeps: all but the larger id of each planted pair
    at or above ``threshold``."""
    rng = np.random.default_rng(seed)
    n_copies = int(n_docs * copy_share)
    n_orig = n_docs - n_copies
    lens = rng.integers(40, 81, size=n_orig)
    words = rng.integers(0, vocab, size=int(lens.sum()))
    texts = [" ".join(f"w{w}" for w in ws) for ws in np.split(words, np.cumsum(lens)[:-1])]
    sources = rng.choice(n_orig, size=n_copies, replace=False)
    pairs = []
    for src in sources:
        toks = texts[src].split()
        for pos in rng.choice(len(toks), size=1 + len(toks) // 60, replace=False):
            toks[pos] = f"w{rng.integers(0, vocab)}"
        texts.append(" ".join(toks))
        pairs.append((int(src), len(texts) - 1, jaccard(texts[src], texts[-1])))
    # ids are a seeded permutation, so copies are not always the larger id
    ids = rng.permutation(n_docs * 7)[:n_docs].astype(np.int64)
    os.makedirs(os.path.join(root, "docs"), exist_ok=True)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}),
        os.path.join(root, "docs", "part-0.parquet"),
    )
    dropped = {max(int(ids[a]), int(ids[b])) for a, b, j in pairs if j >= threshold}
    return sorted(set(ids.tolist()) - dropped)
