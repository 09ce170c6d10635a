"""Seeded input generators for the benchmark.

Everything the program receives is made here from the benchmark's seed:
the analytics fixture tables (same schema and value shapes as the
engine's ten-table fixture lake) and the connector's REST records. The
same seed always yields byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

# Analytics tables at roughly the fixture lake's sf0.01 row counts. The
# warm analytics pass costs about the same at sf0.001 and sf0.01 on a
# 4-core host (per-query overhead dominates), so the larger size is free.
ANALYTICS_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
}
TINY_ROWS = {k: max(10, v // 10) for k, v in ANALYTICS_ROWS.items()}

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")


def _words(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lengths = rng.integers(lo, hi + 1, n)
    idx = rng.integers(0, len(VOCAB), int(lengths.sum()))
    out, pos = [], 0
    for k in lengths:
        out.append(" ".join(VOCAB[i] for i in idx[pos : pos + k]))
        pos += k
    return out


def _ts(start: dt.datetime, offsets_us: np.ndarray) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + offsets_us.astype("timedelta64[us]")


def analytics_tables(seed: int, rows: dict[str, int] = ANALYTICS_ROWS) -> dict:
    """The seven fixture tables the analytics mix reads, plus the two
    fixed dimensions, as pyarrow tables keyed by name."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 1])
    n_c, n_s, n_p = rows["customer"], rows["supplier"], rows["part"]
    n_o, n_l, n_e, n_d = rows["orders"], rows["lineitem"], rows["events"], rows["documents"]
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": money(-999, 9999, n_c),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_c)],
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": money(-999, 9999, n_s),
    })
    part = pa.table({
        "p_partkey": np.arange(n_p, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(["small", "red", "large", "blue"], n_p),
            rng.choice(["ring", "widget", "bolt", "gear"], n_p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_p)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"], n_p).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_p) * 0.1, 2),
    })
    day_us = 86_400 * 1_000_000
    orders = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_o).tolist(),
        # distinct cents so the top-k-per-segment ordering has no ties
        "o_totalprice": np.round(1000 + rng.permutation(n_o) * 31.07 + 0.01, 2),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), rng.integers(0, 2400, n_o) * day_us),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_o)],
    })
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_o, n_l),
        "l_partkey": rng.integers(0, n_p, n_l),
        "l_suppkey": rng.integers(0, n_s, n_l),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * money(900, 2000, n_l), 2),
        "l_discount": np.round(rng.integers(0, 11, n_l) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_l) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_l).tolist(),
        "l_linestatus": rng.choice(["O", "F"], n_l).tolist(),
        "l_shipdate": _ts(dt.datetime(1995, 1, 2), rng.integers(0, 2500, n_l) * day_us),
    })
    # unique microsecond timestamps: as-of and latest-per-key have no ties
    ev_off = np.sort(rng.choice(30 * day_us, n_e, replace=False))
    events = pa.table({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": _ts(dt.datetime(2024, 1, 1), ev_off),
        "user_id": rng.integers(0, max(2, n_e // 66), n_e),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_e)],
        "value": money(0, 100, n_e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })
    texts = _words(rng, n_d, 8, 90)
    # about 5% exact duplicates so the dedup queries have work to do
    for i in np.flatnonzero(rng.random(n_d) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_d))]
    documents = pa.table({
        "doc_id": np.arange(n_d, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n_d)],
        "source": [f"src{i % 20}" for i in range(n_d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
    }


def write_analytics(seed: int, out_dir: str, rows: dict[str, int] = ANALYTICS_ROWS) -> str:
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, table in analytics_tables(seed, rows).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# Connector records --------------------------------------------------------------

CONNECTOR_RECORDS = 20_000
PAGE_SIZE = 500
EMPTY_SHARE = 0.05
COUNTRIES = ("IN", "US", "DE", "BR", "JP", "FR")
_WORD_LEN = np.array([len(w) for w in VOCAB])


def _generation_arrays(seed: int, gen: int, n: int):
    """Per-record draws for generation ``gen``. Both the server (which
    renders JSON) and the checker (which only needs lang and length)
    consume the generator in this one order, so they always agree."""
    rng = np.random.default_rng([seed, 2, gen])
    lang = rng.integers(0, len(LANGS), n)
    case = rng.integers(0, 3, n)
    empty = rng.random(n) < EMPTY_SHARE
    n_words = rng.integers(3, 40, n)
    word_idx = rng.integers(0, len(VOCAB), int(n_words.sum()))
    country = rng.integers(0, len(COUNTRIES), n)
    return lang, case, empty, n_words, word_idx, country


def connector_records(seed: int, gen: int, n: int = CONNECTOR_RECORDS) -> list[dict]:
    """Generation ``gen`` of the REST collection: every id once, at
    ``version == gen``. Texts are empty for about 5% of records, ``lang``
    arrives in mixed case with stray spaces, and the nested ``geo`` object
    carries a key (``geo.country``) a document store rejects."""
    lang, case, empty, n_words, word_idx, country = _generation_arrays(seed, gen, n)
    out, pos = [], 0
    for i in range(n):
        k = int(n_words[i])
        text = "" if empty[i] else " ".join(VOCAB[j] for j in word_idx[pos : pos + k])
        pos += k
        code = LANGS[lang[i]]
        shown = (code, code.upper(), f" {code.title()} ")[case[i]]
        out.append({
            "id": i,
            "version": gen,
            "text": text,
            "lang": shown,
            "geo": {"geo.country": COUNTRIES[country[i]], "city": f"c{(i * 7 + gen) % 97}"},
        })
    return out


class ConnectorOracle:
    """Expected state of ``<name>_raw`` after each ingest: per id, the
    newest generation whose text was non-empty, folded to per-language
    row counts and character totals."""

    def __init__(self, seed: int, n: int = CONNECTOR_RECORDS):
        self.seed, self.n = seed, n
        self.lang = np.full(n, -1)
        self.chars = np.zeros(n, dtype=np.int64)

    def ingest(self, gen: int) -> tuple[int, dict[str, tuple[int, int]]]:
        """Fold generation ``gen``; returns (rows landed, per-lang totals)."""
        lang, _case, empty, n_words, word_idx, _country = _generation_arrays(
            self.seed, gen, self.n
        )
        starts = np.concatenate(([0], np.cumsum(n_words)[:-1]))
        chars = np.add.reduceat(_WORD_LEN[word_idx], starts) + (n_words - 1)
        keep = ~empty
        self.lang[keep] = lang[keep]
        self.chars[keep] = chars[keep]
        totals = {}
        for code, name in enumerate(LANGS):
            sel = self.lang == code
            if sel.any():
                totals[name] = (int(sel.sum()), int(self.chars[sel].sum()))
        return int(keep.sum()), totals
