"""Seeded input generators for the benchmark workloads.

Every generator takes a seed and returns the same bytes for the same
seed. Nothing here imports Spark: the program under test only ever sees
the files these functions write.

- :func:`write_tables` — the ten catalog tables (TPC-H-like star schema
  plus ``events``, ``documents`` and ``embeddings``) as one parquet file
  each, with the column names and types the catalog entries read.
- :func:`tweet_schedule` — the role_stream tweet stream, in generation
  order, and :func:`tweet_ticks`, its per-tick file bodies.
- :func:`replay_events` — the state_stream ``events`` replay, K
  time-shifted copies in time order.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["widget", "gear", "bolt", "ring", "rod", "plate", "gizmo", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table, so adding a table never shifts
    # the values of another
    key = [seed & 0xFFFFFFFF] + [ord(c) for c in stream]
    return np.random.Generator(np.random.PCG64(np.random.SeedSequence(key)))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog_frames(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """The ten catalog tables at scale factor ``sf`` as pandas frames."""
    n_cust = max(10, int(15_000 * sf))
    n_supp = max(10, int(1_000 * sf))
    n_part = max(20, int(20_000 * sf))
    n_ord = max(100, int(150_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out: dict[str, pd.DataFrame] = {}

    out["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    r = _rng(seed, "customer")
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
        }
    )
    r = _rng(seed, "supplier")
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
        }
    )
    r = _rng(seed, "part")
    keys = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {n}" for a in PART_ADJ for n in PART_NOUN]
    out["part"] = pd.DataFrame(
        {
            "p_partkey": keys,
            "p_name": np.array(names)[r.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
            "p_size": r.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    r = _rng(seed, "orders")
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
            "o_totalprice": _money(r, 1_000.0, 500_000.0, n_ord),
            "o_orderdate": EPOCH_1995
            + r.integers(0, 2_400, n_ord).astype("timedelta64[D]"),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
        }
    )
    r = _rng(seed, "lineitem")
    qty = r.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(900.0, 2_100.0, n_line), 2),
            "l_discount": r.integers(0, 11, n_line) / 100.0,
            "l_tax": r.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
            "l_shipdate": EPOCH_1995
            + r.integers(1, 2_500, n_line).astype("timedelta64[D]"),
        }
    )
    out["events"] = events_frame(seed, n_evt, n_users)
    out["documents"] = documents_frame(seed, n_docs)
    r = _rng(seed, "embeddings")
    labels = r.integers(0, 10, n_emb).astype(np.int32)
    centers = r.normal(0.0, 1.0, (10, EMB_DIM))
    vecs = centers[labels] * 0.15 + r.normal(0.0, 1.0, (n_emb, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(vecs),
            "label": labels,
        }
    )
    return out


def events_frame(seed: int, n_evt: int, n_users: int) -> pd.DataFrame:
    """``events``: strictly increasing microsecond timestamps over 30
    days, ``event_id`` in time order."""
    r = _rng(seed, "events")
    gaps = r.exponential(30 * 86_400e6 / n_evt, n_evt).astype(np.int64) + 1
    ts = EPOCH_2024 + np.cumsum(gaps).astype("timedelta64[us]")
    return pd.DataFrame(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": ts,
            "user_id": r.integers(0, n_users, n_evt).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_evt)],
            "value": np.maximum(0.01, np.round(r.exponential(50.0, n_evt), 2)),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)],
        }
    )


def documents_frame(seed: int, n_docs: int) -> pd.DataFrame:
    """``documents``: bag-of-words texts over a 31-word vocabulary;
    every tenth document is a near-duplicate of an earlier one, so the
    dedup and LSH operators have candidate pairs to find."""
    r = _rng(seed, "documents")
    lens = r.integers(10, 100, n_docs)
    words = np.array(WORDS)[r.integers(0, len(WORDS), int(lens.sum()))]
    texts, pos = [], 0
    for i, n in enumerate(lens):
        doc = list(words[pos : pos + n])
        pos += n
        if i % 10 == 9:
            src = texts[int(r.integers(0, i))].split()
            doc = src[: max(1, len(src) - 2)] + ["dup"]
        texts.append(" ".join(doc))
    docs = np.arange(n_docs, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": docs,
            "text": texts,
            "lang": np.array(LANGS)[r.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in docs],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_tables(seed: int, sf: float, out_dir: str) -> str:
    """Write the catalog tables under ``out_dir`` (one parquet file
    each, one row group) and return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in catalog_frames(seed, sf).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.cast(
                pa.schema(
                    [
                        ("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32()),
                    ]
                )
            )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ---------------------------------------------------------------------------
# role_stream: the tweet stream
# ---------------------------------------------------------------------------

TWITTER_FMT = "%a %b %d %H:%M:%S +0000 %Y"
STREAM_EPOCH = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)


def tweet_schedule(
    seed: int,
    rate: float,
    seconds: float,
    speedup: float,
    window_s: float = 600.0,
    n_users: int = 400,
    disorder_s: float = 120.0,
) -> list[tuple[float, float, dict]]:
    """Tweets for an open loop at ``rate`` tweets per wall second.

    Returns ``(due_s, event_s, tweet)`` triples in generation order:
    ``due_s`` is the wall offset at which the generator may write the
    tweet and ``event_s`` its event time in seconds after
    :data:`STREAM_EPOCH`, running ``speedup`` times faster than wall
    time. Event times are shuffled by at most ``disorder_s``, well
    inside the stream's watermark, so nothing is late.

    Users are Zipf-skewed. About half the tweets reply inside a thread
    and a tenth are retweets; parents are always earlier tweets of the
    same ``window_s`` window, the role kernel's community. A few
    replies go to a parent the stream never carries (a dummy ancestor,
    each such parent referenced once) and a few events are deletes.
    """
    r = _rng(seed, "tweets")
    n = int(rate * seconds)
    due = np.arange(n) / rate
    event_s = np.maximum(due * speedup - r.uniform(0.0, disorder_s, n), 0.0)
    users = np.minimum(r.zipf(1.6, n), n_users) - 1
    kind = r.uniform(0.0, 1.0, n)
    pick = r.integers(0, 1 << 30, n)
    out: list[tuple[float, float, dict]] = []
    by_window: dict[int, list[int]] = {}
    for i in range(n):
        tid = 10_000_000 + i
        user = int(users[i])
        k = kind[i]
        same = by_window.setdefault(int(event_s[i] // window_s), [])
        tweet: dict = {
            "created_at": (
                STREAM_EPOCH + dt.timedelta(seconds=float(event_s[i]))
            ).strftime(TWITTER_FMT),
            "id_str": str(tid),
            "text": f"t{i}",
            "user": {"id_str": str(user), "screen_name": f"user {user}"},
        }
        if k < 0.03 and same:
            # delete notice: no created_at, so the pipeline drops it
            tweet = {"delete": {"status": {"id_str": str(same[pick[i] % len(same)])}}}
        elif k < 0.08:
            tweet["in_reply_to_status_id_str"] = str(90_000_000 + i)
        elif k < 0.55 and same:
            parent = same[-1 - pick[i] % min(len(same), 50)]
            tweet["in_reply_to_status_id_str"] = str(parent)
        elif k < 0.65 and same:
            parent = same[-1 - pick[i] % min(len(same), 50)]
            tweet["retweeted_status"] = {"id_str": str(parent), "user": {"id_str": "0"}}
        if "id_str" in tweet:
            same.append(tid)
        out.append((float(due[i]), float(event_s[i]), tweet))
    return out


def tweet_ticks(
    tweets: list[tuple[float, float, dict]], tick_s: float
) -> list[tuple[str, float]]:
    """Group the schedule into one JSON-lines file body per tick:
    ``(body, max_event_s)``, tick ``i`` holding the tweets due in
    ``[i * tick_s, (i + 1) * tick_s)``."""
    n_ticks = int(max((d for d, _, _ in tweets), default=0.0) // tick_s) + 1
    lines: list[list[str]] = [[] for _ in range(n_ticks)]
    max_ev = [0.0] * n_ticks
    for due, ev, tw in tweets:
        i = int(due // tick_s)
        lines[i].append(json.dumps(tw, separators=(",", ":")))
        max_ev[i] = max(max_ev[i], ev)
    return [("\n".join(ls) + "\n", m) for ls, m in zip(lines, max_ev)]


# ---------------------------------------------------------------------------
# state_stream: the events replay
# ---------------------------------------------------------------------------


def replay_events(events: pd.DataFrame, copies: int) -> pd.DataFrame:
    """``copies`` time-shifted copies of ``events`` laid end to end in
    event time (ids offset), sorted by ``ts``."""
    events = events.sort_values("ts").reset_index(drop=True)
    span = (events["ts"].max() - events["ts"].min()) + pd.Timedelta(minutes=11)
    id_span = int(events["event_id"].max()) + 1
    parts = []
    for j in range(copies):
        c = events.copy()
        c["ts"] = c["ts"] + j * span
        c["event_id"] = c["event_id"] + j * id_span
        parts.append(c)
    return pd.concat(parts, ignore_index=True)
