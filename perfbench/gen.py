"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its seed (and size arguments):
the same seed writes byte-identical tables, corpus files and change
streams. The engine under test receives only what these functions
write; nothing is read from outside the benchmark's work directory.

- ``write_tables``: the ten TPC-H-ish/events/documents/embeddings
  tables the registry's queries read (``engine.io.TABLES``), with the
  same schema, value domains and per-scale-factor row counts as the
  engine's reference fixtures.
- ``write_corpus``: a text corpus for Hadoop-Streaming jobs. Zipf
  vocabulary (hot keys), mixed case, and runs of spaces and tabs so
  the wordcount mapper's empty-token rule is exercised.
- ``StoreStream``: an initial partitioned snapshot plus a seeded,
  recency-skewed stream of upsert / delete / merge change batches.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# OLAP tables
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "fr", "es", "zh", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _epoch_us(y: int, m: int, d: int) -> int:
    """Naive (UTC wall-clock) midnight of y-m-d in epoch microseconds."""
    return int((dt.datetime(y, m, d) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng: np.random.Generator, n: int, lo: tuple, hi: tuple) -> pa.Array:
    """Midnight timestamps uniform over [lo, hi] (naive, microseconds)."""
    a, b = _epoch_us(*lo), _epoch_us(*hi)
    day = 86_400 * 1_000_000
    k = rng.integers(0, (b - a) // day + 1, n)
    return pa.array(a + k * day, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (the fixtures' sizing)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.asarray(_DOC_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier original: one word swapped,
            # " dup" appended (dedup queries' positive pairs)
            src = texts[int(rng.integers(0, i))].removesuffix(" dup").split()
            src[int(rng.integers(0, len(src)))] = words[int(rng.integers(0, len(words)))]
            texts.append(" ".join(src) + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": _choice(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<table>.parquet`` for every engine table into ``out_dir``.
    Returns the row count per table."""
    rng = np.random.default_rng([seed, 1])
    n = table_rows(sf)
    i64 = lambda k: pa.array(np.arange(k, dtype=np.int64))  # noqa: E731
    users = max(15, round(15_000 * sf))
    t0 = _epoch_us(2024, 1, 1)
    ev_ts = np.sort(rng.integers(t0, t0 + 30 * 86_400 * 1_000_000, n["events"]))
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(_REGIONS, pa.string()),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(n["customer"]),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
                "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(np.int32)),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"])),
                "c_mktsegment": _choice(rng, _SEGMENTS, n["customer"]),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(n["supplier"]),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
                "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(np.int32)),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": i64(n["part"]),
                "p_name": pa.array(
                    [
                        f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                        for a, b in rng.integers(0, 8, (n["part"], 2))
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]),
                "p_type": _choice(rng, _PART_TYPES, n["part"]),
                "p_size": pa.array(rng.integers(1, 51, n["part"]).astype(np.int32)),
                "p_retailprice": pa.array(
                    np.round(900.0 + (np.arange(n["part"]) % 1000) / 10.0, 1)
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64(n["orders"]),
                "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"])),
                "o_orderstatus": _choice(rng, ["F", "O", "P"], n["orders"]),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n["orders"])),
                "o_orderdate": _days(rng, n["orders"], (1995, 1, 1), (2001, 8, 1)),
                "o_orderpriority": _choice(rng, _PRIORITIES, n["orders"]),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"])),
                "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"])),
                "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"])),
                "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]).astype(np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, n["lineitem"]).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n["lineitem"])),
                "l_discount": pa.array(rng.integers(0, 11, n["lineitem"]) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n["lineitem"]) / 100.0),
                "l_returnflag": _choice(rng, ["A", "N", "R"], n["lineitem"]),
                "l_linestatus": _choice(rng, ["F", "O"], n["lineitem"]),
                "l_shipdate": _days(rng, n["lineitem"], (1995, 1, 2), (2001, 11, 4)),
            }
        ),
        "events": pa.table(
            {
                "event_id": i64(n["events"]),
                "ts": pa.array(ev_ts, pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, users, n["events"])),
                "event_type": _choice(rng, _EVENT_TYPES, n["events"]),
                "value": pa.array(np.round(rng.exponential(50.0, n["events"]), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]),
            }
        ),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------------------
# MapReduce corpus
# ---------------------------------------------------------------------------

_SYLLABLES = "ka lo mi nu pe ra si to ve zu ba de fi go hu ja".split()
GREP_QUERIES = ("product", "hadoop")


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    words = set(GREP_QUERIES)
    out = list(GREP_QUERIES)
    while len(out) < size:
        w = "".join(rng.choice(_SYLLABLES, int(rng.integers(1, 4))))
        if w not in words:
            words.add(w)
            out.append(w)
    # Shuffle so the grep words sit at seeded Zipf ranks, not the top.
    perm = rng.permutation(len(out))
    return [out[i] for i in perm]


def write_corpus(
    out_dir: str, seed: int, n_files: int, lines_per_file: int, vocab_size: int = 3000
) -> None:
    """Write ``n_files`` text files of seeded lines into ``out_dir``.

    Each line holds 1-15 Zipf-drawn words (about 3% of lines are
    empty). A word is lowercase, Capitalized (20%) or UPPER (5%);
    separators are mostly one space, sometimes runs of spaces or a tab,
    and some lines lead with a space or trail a tab."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.asarray(_vocabulary(rng, vocab_size), dtype=object)
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    zipf_p = ranks**-1.1
    zipf_p /= zipf_p.sum()
    n_lines = n_files * lines_per_file
    lens = np.where(rng.random(n_lines) < 0.03, 0, rng.integers(1, 16, n_lines))
    words = vocab[rng.choice(len(vocab), int(lens.sum()), p=zipf_p)]
    case = rng.random(len(words))
    words = np.where(
        case < 0.05,
        np.char.upper(words.astype(str)),
        np.where(case < 0.25, np.char.capitalize(words.astype(str)), words.astype(str)),
    )
    seps = np.array([" ", " ", " ", " ", " ", "  ", "\t", " \t", "   "])
    seps = seps[rng.integers(0, len(seps), len(words))]
    edge = rng.random(n_lines)
    lines = []
    pos = 0
    for i, n in enumerate(lens.tolist()):
        toks = words[pos : pos + n]
        line = "".join(w + s for w, s in zip(toks, seps[pos : pos + n]))[:-1] if n else ""
        pos += n
        if n and edge[i] < 0.05:
            line = " " + line
        elif n and edge[i] < 0.10:
            line += "\t"
        lines.append(line)
    os.makedirs(out_dir, exist_ok=True)
    for f in range(n_files):
        chunk = lines[f * lines_per_file : (f + 1) * lines_per_file]
        with open(os.path.join(out_dir, f"file{f:02d}"), "w", encoding="utf-8") as fh:
            fh.write("\n".join(chunk) + "\n")


# ---------------------------------------------------------------------------
# Versioned-store change stream
# ---------------------------------------------------------------------------

STORE_SCHEMA = "part string, k bigint, v string, amount double, seq bigint"


class StoreStream:
    """Seeded change stream over a partitioned table keyed (part, k).

    Partitions stand for days: ``p00`` is the oldest and the last one
    the newest. Changes are recency-skewed: a batch picks partitions
    from a geometric distribution anchored at the newest day, and
    within a partition prefers recently written keys, so most commits
    touch a few hot partitions and the rest stay cold.

    The stream only generates rows; the caller applies each batch to
    the store and to its own model of the table."""

    def __init__(self, seed: int, partitions: int, rows_per_partition: int):
        self.rng = np.random.default_rng([seed, 3])
        self.partitions = [f"p{i:02d}" for i in range(partitions)]
        self.rows_per_partition = rows_per_partition
        self.seq = 0
        self.next_k = 0

    def _row(self, part: str, k: int) -> tuple:
        self.seq += 1
        amount = float(np.round(self.rng.uniform(0.0, 1000.0), 2))
        return (part, int(k), f"v{self.seq:08d}-{int(self.rng.integers(1 << 30)):x}", amount, self.seq)

    def initial(self) -> list[tuple]:
        rows = []
        for part in self.partitions:
            for _ in range(self.rows_per_partition):
                rows.append(self._row(part, self.next_k))
                self.next_k += 1
        return rows

    def _hot_part(self) -> str:
        back = min(int(self.rng.geometric(0.45)) - 1, len(self.partitions) - 1)
        return self.partitions[-1 - back]

    def _pick_keys(self, live: dict, n: int) -> list[tuple]:
        """``n`` distinct live keys, recency-skewed (hot partition first,
        then newest keys within it)."""
        by_part: dict[str, list[int]] = {}
        for part, k in live:
            by_part.setdefault(part, []).append(k)
        for ks in by_part.values():
            ks.sort()
        out: set[tuple] = set()
        for _ in range(n * 20):
            if len(out) == n:
                break
            part = self._hot_part()
            ks = by_part.get(part)
            if not ks:
                continue
            back = min(int(self.rng.geometric(0.02)) - 1, len(ks) - 1)
            out.add((part, ks[-1 - back]))
        return sorted(out)

    def upsert(self, live: dict, n: int) -> list[tuple]:
        """About 60% updates of live keys, 40% inserts of new keys."""
        n_upd = int(n * 0.6)
        rows = [self._row(p, k) for p, k in self._pick_keys(live, n_upd)]
        for _ in range(n - len(rows)):
            rows.append(self._row(self._hot_part(), self.next_k))
            self.next_k += 1
        return rows

    def delete(self, live: dict, n: int) -> list[tuple]:
        """Keys (part, k) to delete."""
        return self._pick_keys(live, n)

    def merge(self, live: dict, n: int) -> list[tuple]:
        """Merge source: updates, tombstones (negative amount: delete
        when matched, never inserted) and inserts, about 50/25/25."""
        picked = self._pick_keys(live, int(n * 0.75))
        n_del = len(picked) // 3
        rows = []
        for i, (p, k) in enumerate(picked):
            row = self._row(p, k)
            if i < n_del:
                row = row[:3] + (-1.0 - row[3],) + row[4:]
            rows.append(row)
        for _ in range(n - len(picked)):
            rows.append(self._row(self._hot_part(), self.next_k))
            self.next_k += 1
        return rows
