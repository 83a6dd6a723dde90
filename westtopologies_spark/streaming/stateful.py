"""W1 / W2 — the reference's custom streaming semantics.

W1 (data-driven window): the reference's window opens at the first
event's timestamp; `deadline = start + 10 min`; each arriving event
is inserted into the buffer FIRST and then, if its ts >= deadline,
the whole buffer (including the trigger) is emitted and state reset
(insert at DiscussionTreeBolt.java:130-148 precedes the deadline
check at :150; reset at :166-168). No watermark: late events simply
land in the next buffer, and a final partial buffer is never emitted.
This is NOT Spark's epoch-aligned ``window()`` — it needs ordered
stateful iteration, provided here in two modes:

- batch:  ``data_driven_windows`` via ``applyInPandas`` (deterministic,
  oracle-checkable against a recursive-CTE SQL formulation);
- stream: ``data_driven_window_rollup_stream`` via
  ``applyInPandasWithState`` (state persists across micro-batches).

The reference runs this at parallelism 1 with JVM-global state
(SURVEY.md §4.1) — correctness *requires* a single ordered group. We
mirror that with one state key by default; at scale, pass
``key_cols`` (e.g. conversation root) to shard state the way the
reference never could.

W2 (count-based micro-batch): buffer exactly N messages, then emit
the batch (TopicModelBolt.java:87-99). Batch mode is the
deterministic ``floor(seq/N)`` grouping; stream mode keeps a count in
state.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import release_local_checkpoint

W1_OUT_SCHEMA = "window_start timestamp, window_end timestamp, n_events long, sum_value double"


def _cents(val) -> int:
    """Half-up integer cents of a measurement, or 0 for NULL/NaN (SQL
    ``sum()`` semantics — the event still counts, adds no value).

    HALF-UP, not Python ``round()`` (ADVICE r4): builtin round is
    banker's, so a sub-cent value like 0.125 became 12 cents while
    the batch/oracle DECIMAL(18,2) casts round half away from zero
    (13).  floor(x*100 + 0.5) matches the DECIMAL cast on both
    engines across the whole double domain, not just exact cents."""
    if val is None or pd.isna(val):
        return 0
    x = float(val) * 100
    return math.floor(x + 0.5) if x >= 0 else -math.floor(-x + 0.5)


def _scan_windows(pdf: pd.DataFrame, ts_col: str, value_col: str, seq_col: str, interval_sec: int):
    """Ordered scan implementing the exact reference flush rule."""
    pdf = pdf.sort_values(seq_col)
    out = []
    start = None
    n = 0
    total_c = 0  # integer cents: exact accumulation, no float-fold ulp
    deadline = None
    for ts, val in zip(pdf[ts_col], pdf[value_col]):
        if start is None:
            start = ts
            deadline = start + pd.Timedelta(seconds=interval_sec)
            n = 0
            total_c = 0
        n += 1
        total_c += _cents(val)
        if ts >= deadline:  # trigger included in the flushed buffer
            out.append((start, ts, n, total_c / 100.0))
            start = None
    # final partial buffer intentionally NOT emitted (reference never
    # flushes without a trigger)
    return out


# Crossover for the unkeyed batch path: below this row count the
# single-task pandas scan wins (one pass, no shuffles); above it the
# log-round distributed formulation amortizes its ~log2(W) join
# rounds.  Sized from the sf0.1 measurement in SCALE.md.
W1_DISTRIBUTED_MIN_ROWS = 2_000_000


def data_driven_windows(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    seq_col: str = "event_id",
    interval_sec: int = 600,
    key_cols: list[str] | None = None,
    mode: str = "auto",
) -> DataFrame:
    """W1 exact semantics, batch mode.

    Single logical state group by default (the reference's
    parallelism-1 behaviour); ``key_cols`` shards the scan for scale.

    For the unkeyed global-order case, ``mode`` picks the physical
    strategy for the SAME semantics:

    - ``"scan"``: one ``applyInPandas`` group — a single task, optimal
      below a few million rows;
    - ``"distributed"``: the segmented formulation in
      :func:`data_driven_windows_distributed` — window boundaries via
      per-block record-high scans + pointer-doubling, fully
      executor-parallel (the 100 TB path);
    - ``"auto"`` (default): ``df.count()`` (metadata-cheap on parquet)
      against :data:`W1_DISTRIBUTED_MIN_ROWS` decides.
    """
    keys = list(key_cols or [])
    cols = [ts_col, value_col, seq_col] + keys
    src = df.select(*cols)
    base_cols = ["window_start", "window_end", "n_events", "sum_value"]

    if not keys and mode != "scan":
        if mode == "distributed" or (
            mode == "auto" and df.count() >= W1_DISTRIBUTED_MIN_ROWS
        ):
            return data_driven_windows_distributed(
                df, ts_col, value_col, seq_col, interval_sec
            )

    def scan(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = _scan_windows(pdf, ts_col, value_col, seq_col, interval_sec)
        out = pd.DataFrame(rows, columns=base_cols)
        for k in keys:  # constant within the group; mirror keyed-stream output
            out[k] = pdf[k].iloc[0] if len(pdf) else None
        return out[keys + base_cols]

    if keys:
        types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        out_schema = ", ".join(f"{k} {types[k]}" for k in keys) + ", " + W1_OUT_SCHEMA
        grouped = src.groupBy(*keys)
    else:
        out_schema = W1_OUT_SCHEMA
        grouped = src.groupBy(F.lit(0).alias("_g"))
    return grouped.applyInPandas(scan, out_schema)


def data_driven_windows_distributed(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    seq_col: str = "event_id",
    interval_sec: int = 600,
    num_blocks: int | None = None,
) -> DataFrame:
    """W1 exact semantics, batch mode, EXECUTOR-PARALLEL — no single
    task ever sees more than one range block.

    The sequential scan's state chain is a functional graph: for a
    window opening at arrival position ``s`` the trigger is
    ``next(s) = min{s' > s : ts_{s'} >= ts_s + I}`` (arrival order =
    ``seq_col`` order; ts may be NON-monotone in it), and the next
    window opens at the arrival right after the trigger,
    ``f(s) = succ(next(s))``.  The emitted windows are exactly the
    orbit of the first arrival under ``f`` — so the whole scan
    decomposes into data-parallel pieces:

    1. range-partition by ``seq`` into B blocks; per block, one pass
       with a record-high stack resolves ``next`` for every row whose
       trigger lands in its own block (amortized O(n log n), no
       cross-row Python state leaves the block);
    2. rows whose deadline outruns their block resolve against the
       per-block ts-maxima (record-high list over B entries picks the
       target block) + that block's prefix-running-maxima rows — the
       first in-block arrival ``>= T`` is always a prefix record high,
       so the equi-join stays tiny;
    3. window starts = orbit of ``min(seq)`` under ``f`` via pointer
       doubling (the a3 root-walk recipe): R <- R ∪ J_k(R) with
       J_{k+1} = J_k ∘ J_k covers every f^m(s0), m < 2^{k+1}; once a
       round adds nothing, J_k(R) ⊆ R implies no later round can add
       anything either, so the early stop is exact — ceil(log2(W))+1
       join rounds total, each localCheckpoint-truncated;
    4. membership is a block-bucketed equi-join (each window explodes
       to the blocks its [start, trigger] seq-range covers — windows
       are disjoint, so the fan-out is ≤ W + B rows), then one
       partial-agg groupBy emits (start ts, trigger ts, n, exact-cents
       sum) per window.

    Output is bit-identical to the single-task scan (same half-up
    cents fold, same long/100.0 division) and partition-count
    invariant.  Requires ``interval_sec > 0`` (at 0 the opener event
    triggers its own flush in insert-then-check order, which a
    strictly-later ``next`` cannot express) and unique ``seq_col``.
    """
    if interval_sec <= 0:
        raise ValueError("interval_sec must be positive")
    spark = df.sparkSession
    interval_us = int(interval_sec) * 1_000_000
    n_blocks = int(num_blocks or spark.sparkContext.defaultParallelism or 8)

    val = F.col(value_col).cast("double")
    x = val * F.lit(100.0)
    cents = (
        F.when(val.isNull() | F.isnan(val), F.lit(0).cast("long"))
        .when(x >= 0, F.floor(x + F.lit(0.5)))
        .otherwise(-F.floor(-x + F.lit(0.5)))
    ).cast("long")
    src = df.select(
        F.col(seq_col).cast("long").alias("seq"),
        F.col(ts_col).alias("ts"),
        cents.alias("cents"),
    )
    part = (
        src.repartitionByRange(n_blocks, "seq")
        .sortWithinPartitions("seq")
        .withColumn("blk", F.spark_partition_id())
    )

    base_schema = (
        "kind string, blk int, seq long, ts timestamp, cents long, "
        "nxt long, succ long, ts_us long, thr long"
    )

    def local_pass(batches):
        import bisect

        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)  # sorted by seq
        n = len(pdf)
        blk = int(pdf["blk"].iloc[0])
        seqs = [int(s) for s in pdf["seq"]]
        ts_us = [None if pd.isna(t) else t.value // 1000 for t in pdf["ts"]]

        nxt: list[int | None] = [None] * n
        unresolved: list[tuple[int, int]] = []  # (seq, threshold)
        neg: list[int] = []  # ascending -ts_us; end = nearest arrival
        sstk: list[int] = []  # parallel seqs
        for i in range(n - 1, -1, -1):
            tu = ts_us[i]
            if tu is None:
                continue  # NaT never triggers and never closes
            thr = tu + interval_us
            idx = bisect.bisect_right(neg, -thr) - 1
            if idx >= 0:
                nxt[i] = sstk[idx]
            else:
                unresolved.append((seqs[i], thr))
            while neg and neg[-1] >= -tu:  # dominated: later AND <= ts
                neg.pop()
                sstk.pop()
            neg.append(-tu)
            sstk.append(seqs[i])

        out = {
            "kind": ["r"] * n,
            "blk": [blk] * n,
            "seq": list(seqs),
            "ts": list(pdf["ts"]),
            "cents": [int(c) for c in pdf["cents"]],
            "nxt": list(nxt),
            "succ": [seqs[i + 1] if i + 1 < n else None for i in range(n)],
            "ts_us": list(ts_us),
            "thr": [None] * n,
        }

        def emit(kind, seq=None, ts_u=None, thr=None):
            out["kind"].append(kind)
            out["blk"].append(blk)
            out["seq"].append(seq)
            out["ts"].append(pd.NaT)
            out["cents"].append(None)
            out["nxt"].append(None)
            out["succ"].append(None)
            out["ts_us"].append(ts_u)
            out["thr"].append(thr)

        for sq, thr in unresolved:
            emit("u", seq=sq, thr=thr)
        run_max = None  # prefix record highs = entry-facing candidates
        for i in range(n):
            tu = ts_us[i]
            if tu is not None and (run_max is None or tu > run_max):
                run_max = tu
                emit("c", seq=seqs[i], ts_u=tu)
        emit("m", seq=seqs[0], ts_u=run_max)

        res = pd.DataFrame(out)
        res["ts"] = pd.to_datetime(res["ts"])  # object -> datetime64 (NaT rows)
        for c in ("seq", "cents", "nxt", "succ", "ts_us", "thr"):
            res[c] = pd.array(res[c], dtype="Int64")
        res["blk"] = res["blk"].astype("int32")
        yield res

    # pinned: the metas collect, the jump table and the returned plan
    # must all see ONE range partitioning (repartitionByRange samples
    # its boundaries per action).  A lazy local checkpoint fixes it
    # once; its blocks belong to the returned frame.
    base = part.mapInPandas(local_pass, base_schema).localCheckpoint(eager=False)
    rows = base.filter(F.col("kind") == "r")

    metas = sorted(
        (r["blk"], r["seq"], r["ts_us"])
        for r in base.filter(F.col("kind") == "m")
        .select("blk", "seq", "ts_us")
        .collect()
    )
    if not metas:
        return spark.createDataFrame([], W1_OUT_SCHEMA)
    blk_pos = {b: i for i, (b, _, _) in enumerate(metas)}

    # --- cross-block next(): target block via record highs over the
    # B-entry block-maxima list, then first prefix record high >= T
    def to_target(batches):
        import bisect

        memo: dict[int, tuple[list[int], list[int]]] = {}

        def suffix_record_highs(b):
            if b not in memo:
                mx: list[int] = []
                ids: list[int] = []
                for bb, _, m in metas[blk_pos[b] + 1 :]:
                    if m is not None and (not mx or m > mx[-1]):
                        mx.append(m)
                        ids.append(bb)
                memo[b] = (mx, ids)
            return memo[b]

        for pdf in batches:
            seq_o, thr_o, tblk_o = [], [], []
            for sq, thr, b in zip(pdf["seq"], pdf["thr"], pdf["blk"]):
                mx, ids = suffix_record_highs(int(b))
                i = bisect.bisect_left(mx, int(thr))
                if i < len(mx):
                    seq_o.append(int(sq))
                    thr_o.append(int(thr))
                    tblk_o.append(ids[i])
            yield pd.DataFrame(
                {"seq": seq_o, "thr": thr_o, "tblk": tblk_o},
                columns=["seq", "thr", "tblk"],
            ).astype({"seq": "int64", "thr": "int64", "tblk": "int32"})

    targets = (
        base.filter(F.col("kind") == "u")
        .select("blk", "seq", "thr")
        .mapInPandas(to_target, "seq long, thr long, tblk int")
    )
    cands = base.filter(F.col("kind") == "c").select(
        F.col("blk").alias("cblk"),
        F.col("seq").alias("cseq"),
        F.col("ts_us").alias("cts"),
    )
    cross = (
        targets.join(
            cands,
            (F.col("tblk") == F.col("cblk")) & (F.col("cts") >= F.col("thr")),
        )
        .groupBy("seq")
        .agg(F.min("cseq").alias("nxt"))
    )
    next_tbl = (
        rows.filter(F.col("nxt").isNotNull()).select("seq", "nxt").union(cross)
    )

    # --- succ across block boundaries (tiny literal map blk -> first
    # seq of the next non-empty block)
    succ_items = [
        (metas[i][0], metas[i + 1][1]) for i in range(len(metas) - 1)
    ]
    if succ_items:
        boundary = F.create_map(
            *[F.lit(v) for kv in succ_items for v in kv]
        )[F.col("blk")]
    else:
        boundary = F.lit(None).cast("long")
    succ_tbl = rows.select(
        F.col("seq").alias("nseq"),
        F.coalesce(F.col("succ"), boundary).alias("fval"),
    )
    jump = (
        next_tbl.join(succ_tbl, F.col("nxt") == F.col("nseq"))
        .select("seq", F.col("fval").alias("dst"))
        .filter(F.col("dst").isNotNull())
        .localCheckpoint()
    )

    # --- orbit of the first arrival under f, by pointer doubling
    s0 = rows.agg(F.min("seq").alias("s")).collect()[0]["s"]
    orbit = spark.createDataFrame([(int(s0),)], "seq long").localCheckpoint()
    size = 1
    for _ in range(64):  # ceil(log2(n)) upper bound; early stop below
        stepped = orbit.join(jump, "seq").select(F.col("dst").alias("seq"))
        grown = orbit.union(stepped).distinct().localCheckpoint()
        n_now = grown.count()
        # superseded round state: free the old orbit (and below the
        # old jump table) eagerly instead of leaving the blocks for a
        # driver GC the session may never run (VERDICT r6 #3)
        release_local_checkpoint(orbit)
        orbit = grown
        if n_now == size:  # J_k(R) ⊆ R ⇒ fixpoint (see docstring)
            break
        size = n_now
        doubled = (
            jump.alias("a")
            .join(jump.alias("b"), F.col("a.dst") == F.col("b.seq"))
            .select(F.col("a.seq").alias("seq"), F.col("b.dst").alias("dst"))
            .localCheckpoint()
        )
        release_local_checkpoint(jump)
        jump = doubled

    wins = orbit.join(next_tbl, "seq").select(
        F.col("seq").alias("wstart"), F.col("nxt").alias("wend")
    )

    # --- block-bucketed membership join + one partial-agg rollup
    firsts = [m[1] for m in metas]
    blkids = [m[0] for m in metas]

    def cover(batches):
        import bisect

        for pdf in batches:
            ws_o, we_o, blk_o = [], [], []
            for ws, we in zip(pdf["wstart"], pdf["wend"]):
                i0 = max(bisect.bisect_right(firsts, int(ws)) - 1, 0)
                i1 = bisect.bisect_right(firsts, int(we)) - 1
                for ii in range(i0, i1 + 1):
                    ws_o.append(int(ws))
                    we_o.append(int(we))
                    blk_o.append(blkids[ii])
            yield pd.DataFrame(
                {"wstart": ws_o, "wend": we_o, "blk": blk_o},
                columns=["wstart", "wend", "blk"],
            ).astype({"wstart": "int64", "wend": "int64", "blk": "int32"})

    wb = wins.mapInPandas(cover, "wstart long, wend long, blk int")
    ev = rows.select("blk", "seq", "ts", "cents")
    return (
        wb.join(ev, "blk")
        .filter((F.col("seq") >= F.col("wstart")) & (F.col("seq") <= F.col("wend")))
        .groupBy("wstart", "wend")
        .agg(
            F.max(F.when(F.col("seq") == F.col("wstart"), F.col("ts"))).alias(
                "window_start"
            ),
            F.max(F.when(F.col("seq") == F.col("wend"), F.col("ts"))).alias(
                "window_end"
            ),
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("cents") / F.lit(100.0)).alias("sum_value"),
        )
        .select("window_start", "window_end", "n_events", "sum_value")
    )


def data_driven_window_rollup_stream(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    seq_col: str = "event_id",
    interval_sec: int = 600,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """W1 exact semantics, streaming mode (applyInPandasWithState).

    State carries (buffer_start, deadline, n, sum) across
    micro-batches; within a batch rows are processed in ``seq_col``
    order (the arrival-order analog, FIXTURES.md `_seq`).

    Default = one state group, faithful to the reference's
    parallelism-1 bolt. ``key_cols`` (VERDICT r1 item 6) shards the
    window state — e.g. by conversation root via
    :func:`..ops.roles.with_root_ids` — so the exact semantics run
    with executor-parallel state at scale; output gains the key
    columns.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    # sum carried as integer cents (exact, order-stable across batches)
    state_schema = "start_us long, n long, sum_cents long"
    keys = list(key_cols or [])
    if keys:
        types = {f.name: f.dataType.simpleString() for f in events.schema.fields}
        out_schema = (
            ", ".join(f"{k} {types[k]}" for k in keys) + ", " + W1_OUT_SCHEMA
        )
    else:
        out_schema = W1_OUT_SCHEMA
    out_cols = keys + ["window_start", "window_end", "n_events", "sum_value"]

    def fn(key, pdfs, state):
        if state.exists:
            start_us, n, total_c = state.get
        else:
            start_us, n, total_c = None, 0, 0
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values(seq_col)
            for ts, val in zip(pdf[ts_col], pdf[value_col]):
                ts_us = int(ts.value // 1000)  # pandas ns -> us
                if start_us is None:
                    start_us = ts_us
                    n = 0
                    total_c = 0
                n += 1
                total_c += _cents(val)
                if ts_us >= start_us + interval_sec * 1_000_000:
                    out.append(
                        (
                            *(key if keys else ()),
                            pd.Timestamp(start_us * 1000),
                            pd.Timestamp(ts_us * 1000),
                            n,
                            total_c / 100.0,
                        )
                    )
                    start_us = None
        if start_us is None:
            state.remove()
        else:
            state.update((start_us, n, total_c))
        yield pd.DataFrame(out, columns=out_cols)

    if keys:
        grouped = events.select(*keys, ts_col, value_col, seq_col).groupBy(*keys)
    else:
        grouped = (
            events.select(ts_col, value_col, seq_col)
            .withColumn("_g", F.lit(0))
            .groupBy("_g")
        )
    return grouped.applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def count_batches_stream(
    df: DataFrame,
    seq_col: str = "event_id",
    batch_size: int = 5,
) -> DataFrame:
    """W2 streaming mode: assign a monotonically increasing batch id
    after every ``batch_size`` buffered messages; the count survives
    micro-batch boundaries in state.

    Reference: TopicModelBolt.java:87-99 (buffer 5, then predict).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = f"{seq_col} long, batch_id long"
    state_schema = "seen long"

    def fn(key, pdfs, state):
        seen = state.get[0] if state.exists else 0
        out_seq, out_batch = [], []
        for pdf in pdfs:
            pdf = pdf.sort_values(seq_col)
            for s in pdf[seq_col]:
                out_seq.append(int(s))
                out_batch.append(seen // batch_size)
                seen += 1
        state.update((seen,))
        yield pd.DataFrame({seq_col: out_seq, "batch_id": out_batch})

    return (
        df.select(seq_col)
        .withColumn("_g", F.lit(0))
        .groupBy("_g")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


def aligned_window_rollup_stream(
    events: DataFrame,
    ts_col: str = "ts",
    interval: str = "10 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """W1 aligned mode for streams: epoch-aligned tumbling window with
    a watermark — the scalable default the engine prefers over the
    reference's data-driven close (SURVEY.md §2.10 W1)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, interval).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # DECIMAL sum: exact, partition/trigger-order-independent
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def gap_session_stream(
    events: DataFrame,
    gap: str = "30 minutes",
    key: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming gap-based sessionization: Spark's native
    ``session_window`` (dynamic-gap merge inside the streaming state
    store) — the streaming counterpart of the batch
    ``scale.temporal.sessionize``; a parity test pins the two to the
    same (key, start, end, count, sum) results.  State is keyed by
    (key, session), so it shards across executors; the watermark
    bounds state by evicting sessions whose close is final."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), key)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # DECIMAL sum: exact, partition/trigger-order-independent
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(
            key,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stream_stream_interval_join(
    clicks: DataFrame,
    purchases: DataFrame,
    key: str = "user_id",
    gap: str = "60 minutes",
) -> DataFrame:
    """Watermarked stream-stream interval join: each click row joins
    purchase rows of the same key whose timestamp falls in
    [click_ts, click_ts + gap] — the streaming attribution join
    (click->conversion) the reference could not express at all (its
    only join surface is static side-table lookups, SURVEY.md §2.4).

    Input column contracts: clicks(key, click_id, click_ts),
    purchases(key, purchase_id, purchase_ts).  Both sides carry a
    ``gap`` watermark, which is exactly the bound Spark needs to
    evict join state: a click older than watermark - gap can never
    match a future purchase, so state is O(gap x rate), not
    unbounded.  State is keyed by ``key`` — shards across executors.
    The batch equivalent (same predicate as a plain join) is pinned
    by a parity test."""
    c = clicks.withWatermark("click_ts", gap)
    p = purchases.withWatermark("purchase_ts", gap)
    cond = (
        (c[key] == p[key])
        & (p["purchase_ts"] >= c["click_ts"])
        & (p["purchase_ts"] <= c["click_ts"] + F.expr(f"INTERVAL {gap}"))
    )
    return c.join(p, cond, "inner").select(
        c[key].alias(key),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
    )


TOPK_OUT_SCHEMA = (
    "window_start timestamp, event_type string, n_events long, rnk int"
)


def windowed_topk_stream_gaws(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    interval_sec: int = 3600,
    k: int = 3,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming per-window top-k heavy hitters on
    ``applyInPandasWithState`` + ``EventTimeTimeout`` — the batch
    ``ts_topk_hourly`` shape, expressed as a stream.  Plain streaming
    aggregation cannot produce this in append mode: ranking is not
    incremental (a late row can reorder the whole window), so the
    rank must run exactly once, when the watermark proves the window
    complete.

    Mechanics: rows are keyed by their tumbling window start; state
    per window key is the (types, counts) pair of parallel arrays,
    the timeout timestamp is the window end, and the rank (count
    desc, type asc) is emitted exactly once — when the watermark
    crosses it and Spark calls the function with
    ``state.hasTimedOut``.  State is bounded by (windows in flight) x
    (distinct types); the watermark is the eviction proof.  Keys
    shard across executors, so many concurrent windows scale out."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    state_schema = "types array<string>, counts array<long>"
    out_cols = ["window_start", "event_type", "n_events", "rnk"]

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            types, counts = state.get
            items = sorted(zip(types, counts), key=lambda x: (-x[1], x[0]))
            state.remove()
            yield pd.DataFrame(
                [
                    (pd.Timestamp(key[0]), t, int(c), i + 1)
                    for i, (t, c) in enumerate(items[:k])
                ],
                columns=out_cols,
            )
            return
        if state.exists:
            types, counts = state.get
            acc = dict(zip(types, (int(c) for c in counts)))
        else:
            acc = {}
            # arm the window-close timeout once: watermark >= end
            end_ms = int(pd.Timestamp(key[0]).value // 1_000_000) + (
                interval_sec * 1000
            )
            state.setTimeoutTimestamp(end_ms)
        for pdf in pdfs:
            for t, c in pdf.groupby(type_col).size().items():
                acc[t] = acc.get(t, 0) + int(c)
        state.update((list(acc.keys()), list(acc.values())))
        yield pd.DataFrame([], columns=out_cols)

    win_start = F.timestamp_seconds(
        (F.floor(F.unix_timestamp(F.col(ts_col)) / interval_sec) * interval_sec)
        .cast("long")
    )
    # watermark on the DERIVED window_start (the grouping key): it
    # survives the projection, and a timeout at window_end fires
    # exactly when an event from a later window (plus delay) arrives
    return (
        events.select(win_start.alias("window_start"), F.col(type_col))
        .withWatermark("window_start", watermark)
        .groupBy("window_start")
        .applyInPandasWithState(
            fn,
            TOPK_OUT_SCHEMA,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


LSH_CAND_SCHEMA = "band int, bucket long, doc_prior long, doc_new long"


def lsh_candidate_stream(
    docs: DataFrame,
    bucket_cap: int = 64,
) -> DataFrame:
    """Streaming MinHash-LSH candidate generation: documents arrive
    as a stream of (doc_id, text); each new document is checked
    against every PREVIOUSLY seen document that shares a minhash band
    bucket, emitting (band, bucket, doc_prior, doc_new) candidate
    rows — the streaming form of the batch band-bucket self-join
    (``scale.dedup.lsh_candidate_pairs``), for ingest-time dedup of a
    continuously arriving corpus.

    Plan shape: band signatures are PURE ROW EXPRESSIONS
    (:func:`...scale.dedup.row_band_buckets` — no aggregation, so
    they compose with stateful processing), then state is keyed by
    (band, bucket): each group holds the arrival-ordered doc_ids seen
    in that bucket.  State shards across executors exactly like the
    batch join's shuffle partitions; a bucket's state is the posting
    list a production LSH index would hold.

    ``bucket_cap`` bounds per-bucket state: once a bucket has seen
    that many documents, later arrivals still emit candidates against
    the capped posting list but are not appended (a bucket hot
    enough to overflow the cap is a boilerplate/templated signature
    whose pairs are already saturated).  Downstream consumers confirm
    candidates with exact Jaccard (``jaccard_of_pairs_arrays``) in a
    batch job over the emitted pairs, micro-batch by micro-batch.

    Within a micro-batch rows are processed in doc_id order (the
    arrival-order analog, FIXTURES.md `_seq`); a parity test pins the
    emitted unordered pair set to the batch self-join's on a replay
    of the documents table.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..scale.dedup import row_band_buckets

    state_schema = "docs array<long>"

    def fn(key, pdfs, state):
        posting = list(state.get[0]) if state.exists else []
        out_band, out_bucket, out_prior, out_new = [], [], [], []
        for pdf in pdfs:
            pdf = pdf.sort_values("doc_id")
            for d in pdf["doc_id"]:
                d = int(d)
                for p in posting:
                    if p != d:
                        out_band.append(key[0])
                        out_bucket.append(key[1])
                        out_prior.append(p)
                        out_new.append(d)
                if len(posting) < bucket_cap:
                    posting.append(d)
        state.update((posting,))
        yield pd.DataFrame(
            {
                "band": pd.array(out_band, dtype="int32"),
                "bucket": pd.array(out_bucket, dtype="int64"),
                "doc_prior": pd.array(out_prior, dtype="int64"),
                "doc_new": pd.array(out_new, dtype="int64"),
            }
        )

    bands = row_band_buckets(docs)
    return bands.groupBy("band", "bucket").applyInPandasWithState(
        fn, LSH_CAND_SCHEMA, state_schema, "append", GroupStateTimeout.NoTimeout
    )
