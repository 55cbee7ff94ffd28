"""Seeded, single-process input generator for the benchmark.

Writes parquet with the transcript schema
``conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp`` (the ``input_hint`` schema of BASELINE.json), plus the
``events`` / ``documents`` / ``embeddings`` tables the query suite reads.
The same seed gives byte-identical files. The engine only ever sees these
files.

Every writer returns the input properties an optimisation might depend
on (rows, bytes, malformed share, route shares, level mix, hot-conv share
and its multiplier), which the benchmark records next to its results.

Usage:
    python3 perfbench/gen.py --kind transcripts --seed 1 --rows 100000 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LEVELS = np.array(["FATAL", "ERROR", "WARN", "DEBUG", "INFO"])
LEVEL_P = [0.02, 0.10, 0.13, 0.25, 0.50]
TOOLS = np.array(["bash", "search", "editor", "http", "none"])
TOOL_P = [0.20, 0.25, 0.25, 0.15, 0.15]
ROLES = np.array(["user", "assistant", "system", "tool"])
EVTS = np.array(["tool_call", "message", "retry", "result"])
MALFORMED_SHARE = 0.05
HOT_CONV_FRAC = 0.01
HOT_MULTIPLIER = 100
MEAN_TURNS = 10
T0 = 1704067200  # 2024-01-01T00:00:00Z
SPAN_S = 30 * 86400

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def _write(table: pa.Table, path: str, row_group_size: int = 65536) -> int:
    pq.write_table(
        table, path, compression="snappy", row_group_size=row_group_size
    )
    return os.path.getsize(path)


def transcripts(rng: np.random.Generator, n: int) -> tuple[pa.Table, dict]:
    """``n`` turns in time order. 1% of conversations are hot and carry
    100x the median turn count; ~5% of lines are malformed (the ``k=``
    field is cut off, so the anchored parse pattern rejects them)."""
    lens: list[np.ndarray] = []
    total = 0
    while total < n:
        k = max(16, (n - total) // MEAN_TURNS)
        ln = rng.integers(1, 2 * MEAN_TURNS, size=k)
        hot = rng.random(k) < HOT_CONV_FRAC
        ln = np.where(hot, MEAN_TURNS * HOT_MULTIPLIER, ln)
        lens.append(ln)
        total += int(ln.sum())
    conv_len = np.concatenate(lens)
    conv_len = conv_len[: int(np.searchsorted(np.cumsum(conv_len), n)) + 1]
    conv_len[-1] -= int(conv_len.sum()) - n
    n_conv = len(conv_len)
    conv = np.repeat(np.arange(n_conv), conv_len)
    starts = np.cumsum(conv_len) - conv_len
    turn = (np.arange(n) - np.repeat(starts, conv_len)).astype(np.int32)
    conv_t0 = rng.integers(0, SPAN_S, size=n_conv)
    ts_s = T0 + conv_t0[conv] + turn.astype(np.int64) * 7 + rng.integers(0, 7, n)
    order = np.argsort(ts_s, kind="stable")
    conv, turn, ts_s = conv[order], turn[order], ts_s[order]

    level = rng.choice(len(LEVELS), size=n, p=LEVEL_P)
    tool = rng.choice(len(TOOLS), size=n, p=TOOL_P)
    malformed = rng.random(n) < MALFORMED_SHARE
    ts = pa.array(ts_s * 1_000_000, pa.timestamp("us", tz="UTC"))
    head = pc.binary_join_element_wise(
        "at=",
        pc.strftime(pc.cast(ts, pa.timestamp("s", tz="UTC")), format="%Y-%m-%dT%H:%M:%S"),
        " ",
        pa.array(LEVELS[level]),
        " [",
        pa.array(TOOLS[tool]),
        "] evt=",
        pa.array(EVTS[rng.integers(0, len(EVTS), n)]),
        " code=",
        pc.cast(pa.array(rng.integers(0, 7, n)), pa.string()),
        " dur_ms=",
        pc.cast(
            pa.array(np.minimum(rng.lognormal(5.0, 1.2, n), 99999).astype(np.int64)),
            pa.string(),
        ),
        "",
    )
    full = pc.binary_join_element_wise(
        head, " k=", pc.cast(pa.array(rng.integers(0, 100, n)), pa.string()), ""
    )
    text = pc.if_else(pa.array(malformed), head, full)
    conv_id = pc.binary_join_element_wise(
        "conv-", pc.utf8_lpad(pc.cast(pa.array(conv), pa.string()), 7, "0"), ""
    )
    table = pa.Table.from_arrays(
        [conv_id, pa.array(turn), pa.array(ROLES[turn % 4]), text,
         pa.array(TOOLS[tool]), ts],
        schema=TRANSCRIPT_SCHEMA,
    )
    err = ~malformed & (level <= 1)
    exe = ~err & (TOOLS[tool] == "bash")
    hot_rows = int(conv_len[conv_len == MEAN_TURNS * HOT_MULTIPLIER].sum())
    props = {
        "rows": n,
        "conversations": n_conv,
        "malformed_share": round(float(malformed.mean()), 6),
        "route_shares": {
            "sink_errors": round(float(err.mean()), 6),
            "sink_exec": round(float(exe.mean()), 6),
            "sink_default": round(float((~err & ~exe).mean()), 6),
        },
        "level_mix": {
            str(lv): round(float((level == i).mean()), 6)
            for i, lv in enumerate(LEVELS)
        },
        "hot_conv_share": round(float((conv_len == MEAN_TURNS * HOT_MULTIPLIER).mean()), 6),
        "hot_multiplier": HOT_MULTIPLIER,
        "hot_turn_share": round(hot_rows / n, 6),
    }
    return table, props


def write_transcripts(seed: int, out: str, turns: int, files: int) -> dict:
    """``turns`` turns split into ``files`` parquet files, in time order."""
    os.makedirs(out, exist_ok=True)
    table, props = transcripts(np.random.default_rng(seed), turns)
    per = -(-turns // files)
    nbytes = 0
    for i in range(files):
        part = table.slice(i * per, per)
        nbytes += _write(part, os.path.join(out, f"part-{i:05d}.parquet"))
    props.update(files=files, bytes=nbytes)
    return props


# --- query-suite tables (the shapes of the sf tables in TESTDATA.md) -------

WORDS = (
    "a the agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table value vector window"
).split()
EVENT_TYPES = np.array(["click", "view", "signup", "purchase", "error"])
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    ts_us = np.sort(rng.integers(0, SPAN_S * 1_000_000, n)) + T0 * 1_000_000
    props = pc.binary_join_element_wise(
        '{"k": ', pc.cast(pa.array(rng.integers(0, 100, n)), pa.string()), "}", ""
    )
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(80.0, n) + 0.01, 2)),
            "props": props,
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents. The first 90% are originals; the rest are
    near-copies (one to three words replaced) of an original, so dedup
    clusters are stars and every seed gives clusters of the same depth."""
    words = np.array(WORDS)
    n_orig = max(1, n * 9 // 10)
    texts = [
        " ".join(words[rng.integers(0, len(words), int(rng.integers(8, 100)))])
        for _ in range(n_orig)
    ]
    for _ in range(n - n_orig):
        toks = texts[int(rng.integers(0, n_orig))].split(" ")
        for j in rng.integers(0, len(toks), size=int(rng.integers(1, 4))):
            toks[j] = str(words[rng.integers(0, len(words))])
        texts.append(" ".join(toks))
    order = rng.permutation(n)
    text = pa.array([texts[i] for i in order])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": text,
            "lang": pa.array(LANGS[rng.choice(5, size=n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pc.cast(pc.utf8_length(text), pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    centers = rng.normal(size=(k, dim))
    label = rng.integers(0, k, n)
    v = centers[label] + rng.normal(scale=1.5, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def write_suite_tables(seed: int, out: str, events: int) -> dict:
    """events / documents / embeddings / nation at the ratios of the
    sf tables in TESTDATA.md (events : documents : embeddings = 20 : 1 : 1)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    docs = max(50, events // 20)
    tables = {
        "events": _events(rng, events, users=max(10, events // 60)),
        "documents": _documents(rng, docs),
        "embeddings": _embeddings(rng, docs),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
            }
        ),
    }
    props: dict = {"tables": {}}
    for name, t in tables.items():
        size = _write(t, os.path.join(out, f"{name}.parquet"))
        props["tables"][name] = {"rows": t.num_rows, "bytes": size}
    props["rows"] = sum(t["rows"] for t in props["tables"].values())
    props["bytes"] = sum(t["bytes"] for t in props["tables"].values())
    return props


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--kind", choices=["transcripts", "suite"], required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--rows", type=int, default=100_000,
                    help="turns (transcripts) or events rows (suite)")
    ap.add_argument("--files", type=int, default=1)
    args = ap.parse_args()
    if args.kind == "transcripts":
        props = write_transcripts(args.seed, args.out, args.rows, args.files)
    else:
        props = write_suite_tables(args.seed, args.out, args.rows)
    print(json.dumps(props, indent=1))


if __name__ == "__main__":
    main()
