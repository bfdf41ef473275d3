"""Seeded input generators for the workloads.

Every generator takes the seed as an argument and draws from its own
``numpy.random.default_rng``; the same seed writes byte-identical parquet
files.  The program under test sees only these files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The events fixture's columns and physical types.
EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
# The documents fixture's columns.
DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
SEGMENTS = ("FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE")
# The fixture corpus vocabulary (31 words incl. the stopwords "a"/"the");
# generated text mixes it with a long tail of synthetic words.
COMMON_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the dup"
).split()
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------------------
# probe reports (probe_stream)
# ---------------------------------------------------------------------------


class ProbeMix:
    """Traffic shape: which users are hot is fixed per seed; the invalid,
    late and hot shares are drawn per file, so every run sees the same
    spread of mixes rather than one mix per seed."""

    def __init__(self, rng: np.random.Generator, n_users: int):
        self.n_users = n_users
        self.hot_users = rng.choice(n_users, size=max(1, n_users // 50), replace=False)

    def draw(self, rng: np.random.Generator) -> tuple[float, float, float]:
        """(invalid share, late share, hot share) of one file."""
        return (
            float(rng.uniform(0.02, 0.08)),
            float(rng.uniform(0.05, 0.2)),
            float(rng.uniform(0.3, 0.6)),
        )


def customer_table(seed: int, n_customers: int) -> pa.Table:
    """Probe dimension stand-in: (c_custkey, c_mktsegment, ...)."""
    rng = np.random.default_rng([seed, 1])
    keys = np.arange(n_customers, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, 25, n_customers).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_customers), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_customers)],
        }
    )


def probe_file(
    rng: np.random.Generator,
    mix: ProbeMix,
    first_event_id: int,
    n_rows: int,
    t_file_us: int,
) -> tuple[pa.Table, int]:
    """One report file: rows around ``t_file_us`` with in-order jitter, a
    late share reaching back across several 10 s window edges, skewed
    ``user_id`` and a share of rows missing a required field.  Returns the
    table and its invalid-row count."""
    invalid_share, late_share, hot_share = mix.draw(rng)
    jitter = rng.integers(0, 2_000_000, n_rows)
    late = rng.random(n_rows) < late_share
    jitter = np.where(late, -rng.integers(0, 45_000_000, n_rows), jitter)
    ts = t_file_us + jitter
    users = rng.integers(0, mix.n_users, n_rows)
    hot = rng.random(n_rows) < hot_share
    users = np.where(hot, mix.hot_users[rng.integers(0, len(mix.hot_users), n_rows)], users)
    etype = rng.integers(0, len(EVENT_TYPES), n_rows)
    bad = rng.random(n_rows) < invalid_share
    bad_user = bad & (rng.random(n_rows) < 0.5)
    bad_type = bad & ~bad_user
    table = pa.table(
        {
            "event_id": np.arange(first_event_id, first_event_id + n_rows, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64(), mask=bad_user),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in etype], pa.string(), mask=bad_type
            ),
            "value": np.round(rng.uniform(0.0, 250.0, n_rows), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_rows)],
        },
        schema=EVENTS_SCHEMA,
    )
    return table, int(bad.sum())


def probe_files(
    seed: int, n_files: int, rows_per_file: int, n_users: int, out_dir: str,
    stream_offset: int = 0,
) -> tuple[list[str], int, int]:
    """Write ``n_files`` report files named ``p-<n>.parquet`` into
    ``out_dir``.  ``stream_offset`` selects an independent stream of the same
    seed (backlog vs live files).  Returns (paths, rows, invalid rows)."""
    rng = np.random.default_rng([seed, 2, stream_offset])
    mix = ProbeMix(np.random.default_rng([seed, 3]), n_users)
    paths, rows, invalid = [], 0, 0
    base_id = stream_offset * 1_000_000_000
    for i in range(n_files):
        # one file per simulated second of probe traffic
        t_file = T0_US + (stream_offset * 100_000 + i) * 1_000_000
        table, bad = probe_file(rng, mix, base_id + rows, rows_per_file, t_file)
        path = os.path.join(out_dir, f"p-{stream_offset}-{i:05d}.parquet")
        write_parquet(table, path)
        paths.append(path)
        rows += rows_per_file
        invalid += bad
    return paths, rows, invalid


# ---------------------------------------------------------------------------
# documents and query sets (index_query)
# ---------------------------------------------------------------------------


def _vocab(n_tail: int) -> np.ndarray:
    """Common fixture words first, then a long tail of synthetic words."""
    tail = [f"w{i:05d}" for i in range(n_tail)]
    return np.array(COMMON_WORDS + tail, dtype=object)


def _zipf_probs(n: int, s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


class DocGen:
    """Fresh, exact-duplicate and near-duplicate texts over a Zipf
    vocabulary (common words at the head, a long tail behind them)."""

    def __init__(self, seed: int, stream: int, n_tail: int = 20_000):
        self.rng = np.random.default_rng([seed, 4, stream])
        self.vocab = _vocab(n_tail)
        self.probs = _zipf_probs(len(self.vocab))
        self.history: list[str] = []

    def fresh(self) -> str:
        n = int(self.rng.integers(30, 120))
        words = self.rng.choice(self.vocab, size=n, p=self.probs)
        stops = self.rng.choice(STOPWORDS, size=n // 4)
        pos = self.rng.integers(0, n, len(stops))
        words = list(words)
        for p, w in zip(pos, stops):
            words[p] = w
        return " ".join(words)

    def near(self, text: str) -> str:
        words = text.split(" ")
        for p in self.rng.integers(0, len(words), max(1, len(words) // 30)):
            words[p] = str(self.rng.choice(self.vocab, p=self.probs))
        return " ".join(words)

    def text(self, dup_share: float, near_share: float) -> str:
        r = self.rng.random()
        if self.history and r < dup_share:
            t = self.history[int(self.rng.integers(0, len(self.history)))]
        elif self.history and r < dup_share + near_share:
            t = self.near(self.history[int(self.rng.integers(0, len(self.history)))])
        else:
            t = self.fresh()
        self.history.append(t)
        return t


def docs_table(doc_ids, texts) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": [f"src{i % 20}" for i in range(len(texts))],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
        schema=DOCS_SCHEMA,
    )


def index_corpus(seed: int, n_docs: int) -> pa.Table:
    """Standing-index corpus for index_query: mostly fresh texts with a
    few exact and near duplicates."""
    g = DocGen(seed, stream=2)
    return docs_table(range(n_docs), [g.text(0.05, 0.05) for _ in range(n_docs)])


def query_sets(seed: int, n_sets: int, n_queries: int) -> list[dict[int, tuple[str, ...]]]:
    """``n_sets`` query sets of ``n_queries`` queries each (query ids
    0..n_queries-1).
    Query q has 2 + q % 3 distinct terms, so every set has as many terms
    (a set's cost grows with them): at least one from the common head and
    one from the tail."""
    rng = np.random.default_rng([seed, 6])
    vocab = _vocab(20_000)
    head, tail = vocab[: len(COMMON_WORDS)], vocab[len(COMMON_WORDS) : 2_000]
    sets = []
    for _ in range(n_sets):
        qs = {}
        for q in range(n_queries):
            n = 2 + q % 3
            terms = {str(rng.choice(head)), str(rng.choice(tail))}
            while len(terms) < n:
                terms.add(str(rng.choice(head if rng.random() < 0.5 else tail)))
            qs[q] = tuple(sorted(terms))
        sets.append(qs)
    return sets
