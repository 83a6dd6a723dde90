"""SparkSession factory.

Tuned for the test environment (single-JVM ``local[N]``) but every
setting is chosen to also be correct on a 1000-executor cluster:

- AQE on: runtime coalescing, skew-join splitting, dynamic join
  strategy switch — the knobs that keep a 100 TB shuffle healthy.
- ``spark.sql.shuffle.partitions`` defaults to the local core count;
  on a real cluster AQE's coalescing makes the initial number much
  less sensitive.
- Session timezone pinned to UTC so results hash-compare against
  DuckDB (whose timestamps are UTC-naive).
- Arrow enabled for every pandas-UDF boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP = "westtopologies-spark"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = DEFAULT_APP,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle_partitions = shuffle_partitions or cpus
    # In local mode executors live inside the driver JVM; the 1g
    # default heap starves 32 concurrent task threads (broadcast
    # builds OOM once a few intermediates are cached). The default is
    # half the host's physical memory, capped at 16g, so the driver
    # never claims what the host does not have. Only effective if set
    # before the JVM launches — i.e. harmless no-op when a session
    # already exists.
    host_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    driver_mem = os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", f"{max(1, min(16, host_gb // 2))}g"
    )
    # Whole-stage codegen emits fresh classes per query; a long-lived
    # session running the full 140-query catalog overflows the JVM's
    # default 240m JIT code cache mid-suite, after which compilation
    # stops and later queries run de-optimized (observed: a 2 s rollup
    # measured at 12-25 s only when >100 queries preceded it). A real
    # cluster hits the same wall on long-running executors; 512m is
    # the standard remedy. Only effective before the JVM launches.
    driver_java_opts = os.environ.get(
        "SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:ReservedCodeCacheSize=512m"
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.extraJavaOptions", driver_java_opts)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # r8 (guide §3.1): let the planner pick shuffled-hash join
        # when a per-partition build side fits instead of defaulting
        # to sort-merge (no sort, fewer stages), and let AQE rewrite
        # SMJ->SHJ at runtime from OBSERVED partition sizes (the
        # scale-adaptive guard: on any cluster the conversion only
        # fires when the local map actually fits the threshold).
        # CLUSTER PREREQUISITE (ADVICE r8): the STATIC planner half of
        # this decides from size ESTIMATES — canBuildLocalHashMap
        # admits build sides up to autoBroadcastJoinThreshold x
        # shuffle partitions, so badly underestimated inputs risk a
        # per-task build-side OOM that only the AQE half is guarded
        # against.  On a production cluster either keep stats fresh
        # (ANALYZE TABLE) or revert the static half to default and
        # rely solely on the runtime SMJ->SHJ conversion.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            "128m",
        )
        # r8: InferFiltersFromGenerate synthesizes
        # size(<generator>) > 0 AND isnotnull(<generator>) below every
        # explode; predicate pushdown then inlines the generator's
        # whole expression chain into that Filter.  This catalog
        # computes explode inputs IN-ROW in the same stage (shingle
        # sets, token pairs, CDC chunks), so the inferred filter can
        # only re-evaluate the expensive array expression — measured
        # 25-100x on the exploded shingle-index consumers before the
        # kernels were also made inlining-robust (zip_with instead of
        # element_at-per-position).  Semantics are unchanged: explode
        # itself already skips null/empty arrays.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
        # ContextCleaner reclaims shuffle files / broadcast blocks /
        # checkpoint RDDs only when the driver JVM GCs their handles;
        # a low-allocation driver running many short jobs can starve
        # it for the process lifetime (SCALE.md round-6 — 4-15x
        # in-suite collapses). 5min (default 30min) is the session-
        # owned cadence so ANY long-lived driver built through here
        # self-cleans; the bench additionally GCs at deterministic
        # between-query safe points for measurement stability.
        .config("spark.cleaner.periodicGC.interval", "5min")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_SHIPPED_SESSIONS: set = set()


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship this package to the session's Python workers.

    Pickled Arrow-UDF closures (``applyInPandas`` window scans, the
    stateful processors) reference module-level helpers by module
    path; a caller-owned session whose driver cwd is NOT the repo
    root (the correctness driver, a notebook, spark-submit from
    elsewhere) spawns workers that cannot import
    ``westtopologies_spark`` and every such query dies at unpickle.
    ``addPyFile`` is the runtime-settable fix: zip the package once
    per session and distribute it — exactly what a real cluster
    deployment does with ``--py-files``.
    """
    try:
        sid = spark.sparkContext.applicationId
    except Exception:  # pragma: no cover - connect-only sessions
        sid = id(spark)
    if sid in _SHIPPED_SESSIONS:
        return
    _SHIPPED_SESSIONS.add(sid)
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    try:
        # the zip name carries a source fingerprint: workers PREPEND
        # addPyFile paths to sys.path, so a stale cached zip would
        # silently shadow newer package code in every UDF
        stamp = 0
        for root, dirs, files in os.walk(pkg_dir):
            dirs.sort()
            for fname in sorted(files):
                if fname.endswith(".py"):
                    st = os.stat(os.path.join(root, fname))
                    stamp = (
                        stamp * 1000003 ^ st.st_mtime_ns ^ (st.st_size << 17)
                    ) & 0xFFFFFFFFFFFFFFFF
        zip_base = os.path.join(
            tempfile.gettempdir(),
            f"westtopologies_spark_pyfiles_{stamp:x}",
        )
        zip_path = zip_base + ".zip"
        if not os.path.exists(zip_path):
            tmp = tempfile.mkdtemp()
            shutil.copytree(
                pkg_dir,
                os.path.join(tmp, "westtopologies_spark"),
                ignore=shutil.ignore_patterns("__pycache__"),
            )
            shutil.make_archive(zip_base, "zip", tmp)
            shutil.rmtree(tmp)
        spark.sparkContext.addPyFile(zip_path)
    except Exception:  # pragma: no cover - sealed-down session
        pass


# (session-key, sf_dir, table) -> analyzed lazy DataFrame.  This is
# a PLAN memo, not a data memo (r8, guide §6/§7.3): every
# ``spark.read.parquet`` call re-lists the path and re-reads parquet
# footers for schema inference on the DRIVER — measured 100-416 ms
# per call at sf0.1 — and a 248-query suite calls load_table
# 300+ times.  The cached object is an unexecuted logical plan;
# every query execution still scans the parquet files, so bench and
# oracle runs compute from the inputs exactly as before.  Keyed by
# applicationId so a stopped session's plans can never leak into a
# new session (same pattern as _SHIPPED_SESSIONS).
_TABLE_PLAN_CACHE: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver parquet table, normalizing timestamp encodings.

    The driver's ``events`` table is written with parquet
    TIMESTAMP(NANOS), which Spark's vectorized reader rejects
    ([PARQUET_TYPE_ILLEGAL]). We flip the documented escape hatch
    ``spark.sql.legacy.parquet.nanosAsLong`` (runtime-settable) and
    convert the resulting nanos-long back to a microsecond timestamp
    in the plan — semantics identical to DuckDB's nanos->micros
    truncation.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    try:
        sid = spark.sparkContext.applicationId
    except Exception:  # pragma: no cover - connect-only sessions
        sid = id(spark)
    cache_key = (sid, os.path.abspath(sf_dir), name)
    cached = _TABLE_PLAN_CACHE.get(cache_key)
    if cached is not None:
        return cached
    # Evict plans of other (stopped) sessions on the first miss under
    # a new session id (ADVICE r8): entries keyed by a dead session's
    # applicationId would otherwise pin analyzed plans + their
    # SparkSession references for the process lifetime.  Mirrors the
    # _SHIPPED_SESSIONS lifecycle; a same-session re-read of a path is
    # still served from the memo.
    stale = [k for k in _TABLE_PLAN_CACHE if k[0] != sid]
    for k in stale:
        del _TABLE_PLAN_CACHE[k]

    path = os.path.join(sf_dir, f"{name}.parquet")
    ensure_workers_can_import(spark)
    # Self-defend when running under a caller-owned session (the
    # driver's): both configs are runtime-settable and required for
    # oracle parity (UTC == DuckDB's naive timestamps).
    for key, value in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - config locked down
            pass
    df = spark.read.parquet(path)
    if name == "events":
        field = dict((f.name, f.dataType) for f in df.schema.fields).get("ts")
        if isinstance(field, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    _TABLE_PLAN_CACHE[cache_key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Load the driver's parquet tables as a dict of DataFrames and
    register each as a temp view (mirrors the DuckDB oracle's views).
    """
    names = names or (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    )
    out = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def release_local_checkpoint(df) -> None:
    """Eagerly free a SUPERSEDED ``localCheckpoint()`` frame's storage
    blocks (VERDICT r6 #3 — lineage hygiene inside the iterative
    kernels, not just the harness's periodic GC).

    ``DataFrame.unpersist()`` only covers ``persist()``-cached plans;
    a local checkpoint's blocks live on its internal ``LogicalRDD``
    and are otherwise reclaimed only when the driver JVM happens to
    GC the dropped reference — which a 16g heap may never do across a
    hundreds-of-queries session (the round-6 ContextCleaner-starvation
    root cause, SCALE.md).  This reaches the underlying RDD and drops
    its blocks immediately.

    CALLER CONTRACT: the frame must never be computed again — a
    released local checkpoint cannot be rebuilt (its lineage was
    truncated).  Apply only to each round's superseded state after
    the next round's checkpoint has materialized; never to a frame
    that escapes the kernel.  Best-effort: any reflection mismatch on
    a future Spark degrades to the old GC-dependent behavior.
    """
    try:
        df._jdf.queryExecution().logical().rdd().unpersist(False)
    except Exception:
        pass
