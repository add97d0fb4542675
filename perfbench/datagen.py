"""Seeded input generators: star-schema parquet tables and a ZIP text corpus.

Everything here is a pure function of ``(seed, size)``: the same seed gives
byte-identical inputs.  Nothing imports pyspark, so the inputs are built
before the engine starts and their cost stays out of ``setup_s``.

The tables follow the engine's table schemas (``schemas.TABLES``): one
single-row-group parquet file per table, ``timestamp[us]`` time columns,
with value domains the registered queries filter on (``'ASIA'``,
``'BUILDING'``, ``'%red%'``, status ``'F'``, 1995-2001 order dates, one
month of events).  Row counts scale like TPC-H: ``sf`` 0.01 gives 60k
lineitem rows and 10k events.
"""

from __future__ import annotations

import os
import re
import zipfile
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US_PER_DAY = 86_400_000_000
ORDER_EPOCH = np.datetime64("1995-01-01", "us")
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
EVENT_EPOCH = np.datetime64("2024-01-01", "us")
EVENT_DAYS = 30

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big stream "
    "group filter vector"
).split()
LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]

# The engine's word contract (functions/text.py): ASCII letters and
# apostrophe, lowercased after matching.
WORD_RE = re.compile(r"[A-Za-z']+")


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> int:
    table = pa.table(cols)
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))
    return table.num_rows


def _money(x: np.ndarray) -> pa.Array:
    return pa.array(np.round(x, 2), pa.float64())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)], pa.string())


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write all ten engine tables at scale ``sf`` under ``out_dir``;
    return ``{table: rows}``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_doc = max(50, int(50_000 * sf))
    rows: dict[str, int] = {}

    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_supp)),
    })
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), n_part)]
    price = 900.0 + (np.arange(n_part) % 1000) / 10.0
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(adj + " " + noun, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _money(price),
    })
    odate = ORDER_EPOCH + rng.integers(0, ORDER_DAYS, n_ord) * np.timedelta64(1, "D")
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng.uniform(1000.0, 500_000.0, n_ord)),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    lines = np.clip(rng.poisson(3.0, n_ord) + 1, 1, 13)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li) * np.timedelta64(1, "D")
    flag_status = rng.integers(0, 6, n_li)
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": _money(qty * rng.uniform(900.0, 2100.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, pa.float64()),
        "l_returnflag": pa.array(np.asarray(["A", "N", "R"], dtype=object)[flag_status // 2], pa.string()),
        "l_linestatus": pa.array(np.asarray(["F", "O"], dtype=object)[flag_status % 2], pa.string()),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })
    ts = EVENT_EPOCH + np.sort(rng.integers(0, EVENT_DAYS * US_PER_DAY, n_ev)).astype("timedelta64[us]")
    rows["events"] = _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": _money(np.minimum(rng.exponential(40.0, n_ev) + 0.01, 490.0)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
    })
    words = np.asarray(DOC_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(8, 81))]) for _ in range(n_doc)]
    # ~5% exact copies of an earlier document, so exact dedup has groups.
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))]
    rows["documents"] = _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n_doc),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_doc)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    label = rng.integers(0, 10, n_doc)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    emb = centroids[label] + rng.normal(0.0, 1.0, (n_doc, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_doc), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
    return rows


@dataclass
class Corpus:
    """A generated ZIP corpus and the exact word counts of its lossy-decoded
    text (the oracle for the word-count pipeline)."""

    zip_path: str
    text_bytes: int
    zip_bytes: int
    counts: Counter
    invalid_bytes: int

    @property
    def total_tokens(self) -> int:
        return sum(self.counts.values())

    def top(self, k: int = 20) -> list[tuple[str, int]]:
        """Top-k by the engine's 3-key contract: count desc, length desc,
        word asc."""
        return sorted(self.counts.items(), key=lambda kv: (-kv[1], -len(kv[0]), kv[0]))[:k]


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab: set[str] = set()
    while len(vocab) < size:
        n = int(rng.integers(2, 11))
        word = "".join(letters[rng.integers(0, 26, n)])
        if rng.random() < 0.03:
            cut = int(rng.integers(1, n))
            word = word[:cut] + "'" + word[cut:]
        vocab.add(word)
    return sorted(vocab)


def write_corpus(out_dir: str, text_mb: float, seed: int) -> Corpus:
    """Write ``corpus.zip`` holding one UTF-8 text member of about
    ``text_mb`` MB: Zipf-distributed words, mixed case, a few accented
    (non-word) letters, and lone invalid bytes (0xFF/0xFE) that the
    engine's lossy decode must drop.

    Ranks 6-8 of the vocabulary share one count — two words of equal length
    and one longer — so the Top-20 exercises both tie-break keys.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    vocab = _vocabulary(rng, 20_000)
    rng.shuffle(vocab)
    # Rank 6 and 7 have equal length, rank 8 is longer: the tie group.
    by_len = sorted(vocab[:200], key=len)
    pair = next((a, b) for a, b in zip(by_len, by_len[1:]) if len(a) == len(b) < len(by_len[-1]))
    tie = [*pair, by_len[-1]]
    vocab = [w for w in vocab if w not in tie]
    vocab[5:5] = tie

    n_tokens = int(text_mb * 1e6 / 7.0)
    weights = 1.0 / np.arange(3, len(vocab) + 3) ** 1.05
    counts = np.floor(weights / weights.sum() * n_tokens).astype(np.int64)
    counts[5:8] = counts[6]
    ids = np.repeat(np.arange(len(vocab)), counts)
    rng.shuffle(ids)

    vocab_arr = np.asarray(vocab, dtype=object)
    tokens = vocab_arr[ids]
    caps = rng.random(len(tokens)) < 0.08
    tokens[caps] = [t.capitalize() for t in tokens[caps]]
    accents = rng.random(len(tokens)) < 0.002
    tokens[accents] = [t + "é" for t in tokens[accents]]
    seps = np.where(rng.random(len(tokens)) < 1 / 12, "\n", " ")
    text = "".join(a + b for a, b in zip(tokens.tolist(), seps.tolist()))
    raw = bytearray(text.encode("utf-8"))

    # Lone 0xFF/0xFE bytes are invalid anywhere in UTF-8; put them only
    # between two ASCII bytes so no valid multi-byte character is split.
    positions = np.sort(rng.choice(len(raw) - 1, size=max(1, len(raw) // 20_000), replace=False)) + 1
    positions = [p for p in positions.tolist() if raw[p - 1] < 0x80 and raw[p] < 0x80]
    chunks, prev = [], 0
    for i, p in enumerate(positions):
        chunks.append(bytes(raw[prev:p]))
        chunks.append(b"\xff" if i % 2 else b"\xfe")
        prev = p
    chunks.append(bytes(raw[prev:]))
    data = b"".join(chunks)

    zip_path = os.path.join(out_dir, "corpus.zip")
    with zipfile.ZipFile(zip_path, "w", compression=zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
        zf.writestr("corpus.txt", data)

    decoded = data.decode("utf-8", "ignore")
    exact = Counter(w.lower() for w in WORD_RE.findall(decoded))
    return Corpus(zip_path, len(data), os.path.getsize(zip_path), exact, len(positions))
