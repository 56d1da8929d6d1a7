"""Seeded input generators for the benchmark.

Two families:

* ``write_star(out_dir, sf, seed)`` writes the star-schema + events +
  documents + embeddings parquet tables that the registry queries read.
  ``star_tables`` draws every column from one ``numpy`` generator in a
  fixed order, with the same distributions, category orders and
  scale-factor rules as the reference sf-directories the engine is
  tested on (``tools/oracle_check.py`` runs against them), and
  ``write_star`` writes them the same way: at seed 42 the files equal
  the sf0.1, sf0.01 and sf0.001 reference sets byte for byte.
  ``python3 perfbench/datagen.py compare <reference-dir> [SF [SEED]]``
  checks this against a reference directory.
* ``mr_text_lines(seed)`` builds the text files of the paper's own
  workload (FIXTURES.md F1/F2 shapes): numeric lines including values
  above 2**31, skewed word lines with capitalised words, every line at
  most 99 characters.  ``mr_text_expected`` is the pure-Python answer
  the engine output is checked against.

Everything is a pure function of its arguments: the same seed gives the
same bytes.
"""

from __future__ import annotations

import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Category lists in the order the generator indexes them.
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
ORDER_STATUS = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["R", "A", "N"]
LINE_STATUS = ["O", "F"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
DOC_WORDS = (
    "the a spark query table join group filter window data order customer "
    "part line fast slow big small hash sort merge scan agg stream batch "
    "vector key value row column"
).split()
# drawn uniformly, so English is 3/7 of the corpus
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
EMB_DIM = 64
EVENT_SPAN_S = 30 * 86400

TS_US = pa.timestamp("us")
EPOCH_2024_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))


def _days(start: str, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), type=TS_US)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(values: list[str], idx: np.ndarray) -> np.ndarray:
    return np.array(values)[idx]


def star_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(1, int(15_000 * sf))
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, n_cust)),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": _pick([f"Brand#{i}" for i in range(1, 26)], rng.integers(0, 25, n_part)),
        "p_type": _pick(PART_TYPES, rng.integers(0, 6, n_part)),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": _pick(ORDER_STATUS, rng.integers(0, 3, n_ord)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2405, n_ord)),
        "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, n_ord)),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": _money(rng, 0.0, 0.1, n_li),
        "l_tax": _money(rng, 0.0, 0.08, n_li),
        "l_returnflag": _pick(RETURN_FLAGS, rng.integers(0, 3, n_li)),
        "l_linestatus": _pick(LINE_STATUS, rng.integers(0, 2, n_li)),
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, n_li)),
    })
    # uniform arrival times over 30 days, drawn in seconds, taken to
    # nanoseconds and truncated to microseconds
    offs_s = np.sort(rng.uniform(0, EVENT_SPAN_S, n_ev))
    ts_us = EPOCH_2024_US + (offs_s * 1e9).astype(np.int64) // 1000
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts_us, type=pa.int64()).cast(TS_US),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(DOC_WORDS)
    texts = []
    for _ in range(n_doc):
        texts.append(" ".join(words[rng.integers(0, len(DOC_WORDS), int(rng.integers(10, 100)))]))
    # one document in twenty becomes a copy of another plus one token,
    # in draw order, so a copy can itself be copied (exact duplicates)
    n_dup = n_doc // 20
    for i, j in zip(rng.choice(n_doc, n_dup, replace=False), rng.integers(0, n_doc, n_dup)):
        texts[i] = texts[j] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(LANGS, rng.integers(0, len(LANGS), n_doc)),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    # isotropic unit vectors; the labels carry no geometric signal
    vecs = rng.standard_normal((n_emb, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32),
    })
    return t


# The reference tables were written from pandas frames whose dates were
# datetime64[s] and event times datetime64[ns], coerced to microseconds
# on write; going the same way gives the same parquet bytes.
PANDAS_UNIT = {"o_orderdate": "s", "l_shipdate": "s", "ts": "ns"}


def write_star(out_dir: str, sf: float, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_tables(sf, seed).items():
        df = table.to_pandas()
        for col in df.columns.intersection(list(PANDAS_UNIT)):
            df[col] = df[col].astype(f"datetime64[{PANDAS_UNIT[col]}]")
        df.to_parquet(
            os.path.join(out_dir, f"{name}.parquet"),
            index=False, coerce_timestamps="us", allow_truncated_timestamps=True,
        )


# --- mr_text: the reference clients' own input shape -----------------------

MR_WORDS = [
    "gun", "twist", "parachute", "Venus", "abuse", "zebra", "apple", "Mars",
    "quirk", "lattice", "drum", "echo", "fjord", "glyph", "Orion", "kettle",
]


def mr_text_lines(seed: int, n_files: int = 4, lines_per_file: int = 100_000) -> list[list[str]]:
    """Per-file line lists.  Even files are F1 numeric lines (uniform
    below 10**6 plus ~1% values in [2**31, 2**32) so the uint32 bucket
    path sees the high buckets); odd files are F2 word lines with Zipf
    repetition over a capitalised/lowercase vocabulary plus a long tail
    of rare tokens.  Every line is 1..99 characters."""
    rng = random.Random(seed)
    vocab = MR_WORDS + [f"w{rng.randrange(10**6):06d}" for _ in range(4000)]
    weights = [1.0 / (r + 1) ** 1.1 for r in range(len(vocab))]
    files = []
    for f in range(n_files):
        if f % 2 == 0:
            lines = [
                str(rng.randrange(2**31, 2**32)) if rng.random() < 0.01 else str(rng.randrange(10**6))
                for _ in range(lines_per_file)
            ]
        else:
            lines = rng.choices(vocab, weights, k=lines_per_file)
            # a few long lines near the 99-character limit
            for i in range(0, lines_per_file, 997):
                lines[i] = (lines[i] * 99)[: 60 + rng.randrange(40)]
        files.append(lines)
    return files


def write_mr_text(out_dir: str, files: list[list[str]]) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, lines in enumerate(files):
        path = os.path.join(out_dir, f"part{i}.txt")
        with open(path, "w", encoding="ascii", newline="\n") as fh:
            fh.write("\n".join(lines) + "\n")
        paths.append(path)
    return paths


def _uint32_bucket(key: str, p: int) -> int:
    """The reference sort's partition: top floor(log2 p) bits of
    uint32(atoi(key)); non-numeric keys fold to 0 like C ``atoi``."""
    bits = p.bit_length() - 1
    try:
        v = int(key)
    except ValueError:
        v = 0
    return ((v % 2**32) >> (32 - bits)) if p > 1 else 0


def mr_text_expected(files: list[list[str]]) -> dict[str, list[tuple]]:
    """Pure-Python answers, in the order the engine must return them."""
    from collections import Counter

    all_lines = [ln for lines in files for ln in lines]
    numeric = [ln for i, lines in enumerate(files) if i % 2 == 0 for ln in lines]
    words = [ln for i, lines in enumerate(files) if i % 2 == 1 for ln in lines]

    def by_bytes(s: str) -> bytes:
        return s.encode()

    counts = Counter(all_lines)
    wc = sorted(counts.items(), key=lambda kv: by_bytes(kv[0]))
    uniq = sorted(set(numeric), key=by_bytes)
    wc_words = sorted(Counter(words).items(), key=lambda kv: by_bytes(kv[0]))
    out = {"wordcount": wc, "sort_p1": [(k,) for k in uniq], "wordcount_words": wc_words}
    for p in (4, 8):
        out[f"sort_p{p}"] = [(k,) for k in sorted(set(numeric), key=lambda k: (_uint32_bucket(k, p), by_bytes(k)))]
    return out


def compare(ref_dir: str, sf: float, seed: int, work_dir: str) -> list[str]:
    """Differences between the tables ``write_star(work_dir, sf, seed)``
    writes and the parquet tables in ``ref_dir``: schema, row count and
    the columns whose values differ.  Tables that are equal in value are
    also compared byte for byte.  Empty when every table is the same."""
    write_star(work_dir, sf, seed)
    diffs = []
    for f in sorted(os.listdir(work_dir)):
        ref_path, path = os.path.join(ref_dir, f), os.path.join(work_dir, f)
        if not os.path.exists(ref_path):
            diffs.append(f"{f}: missing in {ref_dir}")
            continue
        ref, table = pq.read_table(ref_path), pq.read_table(path)
        if ref.schema != table.schema or ref.num_rows != table.num_rows:
            diffs.append(f"{f}: {ref.num_rows} rows {ref.schema} != {table.num_rows} rows {table.schema}")
            continue
        diffs += [f"{f}: {c} values differ" for c in ref.column_names if not ref.column(c).equals(table.column(c))]
        if not diffs or not diffs[-1].startswith(f):
            with open(ref_path, "rb") as a, open(path, "rb") as b:
                print(f"{f:20s} {table.num_rows:>8d} rows  equal values, {'same' if a.read() == b.read() else 'different'} bytes")
    return diffs


if __name__ == "__main__":
    # python3 perfbench/datagen.py compare REF_DIR [SF [SEED]]
    if len(sys.argv) < 3 or sys.argv[1] != "compare":
        sys.exit("usage: datagen.py compare REF_DIR [SF [SEED]]")
    import tempfile

    work = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as tmp:
        sf, seed = float(sys.argv[3]) if len(sys.argv) > 3 else 0.1, int(sys.argv[4]) if len(sys.argv) > 4 else 42
        found = compare(sys.argv[2], sf, seed, tmp)
    print("\n".join(found) or "all tables equal")
    sys.exit(1 if found else 0)
