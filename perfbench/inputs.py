"""Seeded inputs for the benchmark.

Everything the engine reads during a run is made here from the workload
seed, so a run needs nothing outside its checkout and the same seed gives
the same inputs.  Nothing in this module touches Spark: the fixture
tables are written with pyarrow and the live feed is plain JSON lines.

* ``write_fixture_tables`` writes the ten catalog tables in the schemas of
  the engine's fixture data (see FIXTURES.md).  The query mix reads
  ``events`` and ``documents``; the other eight are empty and exist
  because the DuckDB oracle binds a view over every table.
* ``TradeFeed`` makes the live trade files, one JSON trade per line in the
  bronze ``TRADE_SCHEMA`` shape, each file stamped with its due time.
"""

from __future__ import annotations

import datetime as dt
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
TAPE_START = dt.datetime(2024, 1, 1)
TAPE_SPAN_US = 30 * 86_400 * 1_000_000  # the fixture's 30-day time domain
# The live feed: a fixed rate well under what the pipeline sustains on 4
# vCPUs, in files of equal size.
ROWS_PER_S = 2_000
FILES_PER_S = 4
ROWS_PER_FILE = ROWS_PER_S // FILES_PER_S
INTERVAL_MS = 1000 // FILES_PER_S
# how far before its file's due time an out-of-order trade may be stamped
MAX_DELAY_MS = 20_000


def skewed_weights(rng: np.random.Generator, n: int) -> np.ndarray:
    """Zipf-like weights over ``n`` keys; the seed draws the exponent and
    which key is hottest."""
    w = 1.0 / np.arange(1, n + 1) ** rng.uniform(0.3, 1.2)
    return rng.permutation(w / w.sum())


def events_table(rng: np.random.Generator, rows: int) -> pa.Table:
    """The trade tape in the fixture ``events`` schema.  Timestamps are
    strictly increasing, so every window ordered by ``ts`` is total and
    the Spark and DuckDB results cannot differ on ties."""
    offsets = np.sort(rng.integers(0, TAPE_SPAN_US - rows, rows)) + np.arange(rows)
    start_us = int((TAPE_START - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    users = max(150, rows // 67)
    return pa.table(
        {
            "event_id": pa.array(np.arange(rows), pa.int64()),
            "ts": pa.array(start_us + offsets, pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, rows), pa.int64()),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.choice(5, rows, p=skewed_weights(rng, 5))]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, rows), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
        }
    )


def documents_table(rng: np.random.Generator, rows: int) -> pa.Table:
    """Bag-of-words documents; about 5% are a near duplicate (an earlier
    text plus `` dup``) and a few are exact copies, as in the fixture."""
    texts: list[str] = []
    for i in range(rows):
        r = rng.random()
        if i and r < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(rng.choice(VOCAB, rng.integers(10, 101))))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(rows), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, rows, p=LANG_WEIGHTS)]),
            "source": pa.array([f"src{i % 20}" for i in range(rows)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


# The other tables in the fixture schemas (FIXTURES.md).  No query of the
# mix reads them; they are written empty so the oracle's views bind.
EMPTY_SCHEMAS = {
    "embeddings": [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())],
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())],
    "customer": [
        ("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
        ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string()),
    ],
    "supplier": [
        ("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()),
        ("s_acctbal", pa.float64()),
    ],
    "part": [
        ("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
        ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64()),
    ],
    "orders": [
        ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()), ("o_orderdate", pa.timestamp("ms")),
        ("o_orderpriority", pa.string()),
    ],
    "lineitem": [
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()), ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("ms")),
    ],
}


def fixture_tables(seed: int, tape_rows: int, docs: int) -> dict[str, pa.Table]:
    """All ten catalog tables for ``seed``."""
    rng = np.random.default_rng(seed)
    tables = {n: pa.schema(cols).empty_table() for n, cols in EMPTY_SCHEMAS.items()}
    tables["events"] = events_table(rng, tape_rows)
    tables["documents"] = documents_table(rng, docs)
    return tables


def write_fixture_tables(out_dir: str, seed: int, tape_rows: int, docs: int) -> None:
    """Write ``<name>.parquet`` for every catalog table into ``out_dir``."""
    for name, table in fixture_tables(seed, tape_rows, docs).items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")


class TradeFeed:
    """The live trade feed: file ``i`` is due ``i / FILES_PER_S`` seconds
    after the start and holds ``ROWS_PER_FILE`` trades.

    The seed draws the symbol skew, each symbol's price walk and the share
    of out-of-order trades.  An out-of-order trade carries an event time up
    to ``MAX_DELAY_MS`` before its file's due time, which stays inside the
    silver stream's 1-minute watermark, so no trade may be dropped as late.
    Every other trade falls in the file's own interval, and the last trade
    of each file is stamped exactly with the due time: the newest event
    time a silver batch reports is then the due time of the newest file it
    consumed.
    """

    SYMBOLS = ["BTCUSDT", "ETHUSDT", "SOLUSDT", "BNBUSDT", "XRPUSDT"]
    BASE_PRICES = [60_000.0, 3_000.0, 150.0, 550.0, 0.6]

    def __init__(self, seed: int):
        rng = np.random.default_rng(seed)
        self.seed = seed
        self.weights = skewed_weights(rng, len(self.SYMBOLS))
        self.late_share = float(rng.uniform(0.02, 0.10))
        self.drift = rng.normal(0.0, 2e-4, len(self.SYMBOLS))

    def rows(self, i: int, due_ms: int, warm: bool = False) -> list[dict]:
        """The trades of file ``i``, stamped against its due time (epoch ms).
        ``warm`` files, used before the timed phase, come from their own
        random stream."""
        rng = np.random.default_rng([self.seed, int(warm), i])
        n = ROWS_PER_FILE
        sym = rng.choice(len(self.SYMBOLS), n, p=self.weights)
        walk = np.exp(self.drift[sym] * i + rng.normal(0.0, 1e-3, n))
        price = np.round(np.array(self.BASE_PRICES)[sym] * walk, 4)
        qty = np.round(rng.lognormal(-1.0, 1.0, n), 6)
        age = rng.integers(0, INTERVAL_MS, n)
        late = rng.random(n) < self.late_share
        age[late] = rng.integers(INTERVAL_MS, MAX_DELAY_MS, int(late.sum()))
        age[-1] = 0
        return [
            {
                "symbol": self.SYMBOLS[s],
                "price": float(p),
                "quantity": float(q),
                "timestamp": iso_ms(due_ms - int(a)),
            }
            for s, p, q, a in zip(sym, price, qty, age)
        ]

    @staticmethod
    def encode(rows: list[dict]) -> str:
        return "".join(json.dumps(r) + "\n" for r in rows)


def iso_ms(epoch_ms: int) -> str:
    """Epoch milliseconds as naive UTC ISO-8601 text, the bronze
    ``timestamp`` format (a string, cast downstream)."""
    t = dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=epoch_ms)
    return t.isoformat(timespec="milliseconds")
