"""SparkSession factory + engine configuration.

Replaces the reference's config loader (reference src/Anonymizer.php:63-100,
config/config-sample.php): DB connection knobs become JDBC options. The two
concurrency knobs live where they act: NB_MAX_MYSQL_CLIENT is
``JdbcConfig.num_partitions`` (``sources/jdbc.py``) and
NB_MAX_PROMISE_IN_LOOP is ``sinks.updates_via_foreach_partition(batch_size=)``.
The session itself is sized from the cores it runs on (``get_spark``).
"""

from __future__ import annotations

import logging
import os
import threading
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession

_log = logging.getLogger(__name__)


@dataclass
class EngineConfig:
    """Engine-level configuration (the surviving config-sample.php keys).

    - ``locale``         <- DEFAULT_GENERATOR_LOCALE (config-sample.php:8)
    - ``seed``           global seed for deterministic fake data (new; the
                          reference used Faker's process-global RNG)
    - ``extra_spark_conf``  Spark conf that wins over ``get_spark``'s own
    """

    locale: str = "en_US"
    seed: int = 42
    extra_spark_conf: dict[str, str] = field(default_factory=dict)

    def __post_init__(self) -> None:
        """Validate on construction — the reference type-checks its config and
        hard-exits on error (reference src/Anonymizer.php:63-100); raising
        ValueError is the library equivalent."""
        from mysql_data_anonymizer_spark.functions.generator import LOCALES

        if self.locale not in LOCALES:
            raise ValueError(
                f"unsupported locale {self.locale!r}; available: {sorted(LOCALES)}"
            )
        if not isinstance(self.seed, int) or isinstance(self.seed, bool):
            raise ValueError(f"seed must be an int, got {type(self.seed).__name__}")
        if not isinstance(self.extra_spark_conf, dict):
            raise ValueError("extra_spark_conf must be a dict of str -> str")


def _driver_memory() -> str:
    """``spark.driver.memory``: ``SPARK_GRAFT_DRIVER_MEM`` if set, else the
    smaller of 32g and half the machine's physical memory, so a driver heap
    never outgrows the box it shares with its executors' Python workers."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{min(32 << 10, phys_mb // 2)}m"


def _default_master() -> str:
    """``local[N]``: N is ``SPARK_GRAFT_CPUS`` if set, else the number of
    CPUs this process may run on."""
    return f"local[{os.environ.get('SPARK_GRAFT_CPUS') or len(os.sched_getaffinity(0))}]"


def get_spark(
    app_name: str = "mysql_data_anonymizer_spark",
    config: EngineConfig | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    The master defaults to ``local[$SPARK_GRAFT_CPUS]``, else one core per
    CPU this process may run on, and shuffle partitions follow the
    session's cores (``defaultParallelism``); a key set in
    ``config.extra_spark_conf`` wins over the latter. AQE is on so
    runtime stats re-plan skewed joins and coalesce small shuffle
    partitions; Arrow is on for the pandas-UDF slow path.
    """
    config = config or EngineConfig()
    # Make this package importable by Python UDF workers regardless of the
    # caller's cwd: export the repo root on PYTHONPATH before the JVM (and
    # thus the workers' env) is spawned. On a real cluster the equivalent
    # is shipping the package via --py-files / spark.submit.pyFiles.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{repo_root}{os.pathsep}{pp}" if pp else repo_root
    builder = (
        SparkSession.builder.master(master or _default_master())
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # runtime bloom-filter join pruning (Spark's default) builds a
        # sketch per selective shuffle join, ~0.3-0.6s each at fixture
        # scale while pruning nothing (measured); a deployment whose data
        # repays it turns it back on through extra_spark_conf
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", _driver_memory())
    )
    for k, v in config.extra_spark_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if "spark.sql.shuffle.partitions" not in config.extra_spark_conf:
        spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Observation.get waits on the JVM side with Duration.Inf (Spark 4.1.2):
# metrics whose action never ran, or never reported, would block the
# driver forever. `observed_metrics` waits this long, then raises.
OBSERVATION_TIMEOUT_S = 600.0


def observed_metrics(obs: Observation, label: str) -> dict:
    """``obs.get`` with a deadline: wait up to ``OBSERVATION_TIMEOUT_S`` for
    the observed metrics, then raise ``TimeoutError`` naming ``label`` (the
    loop or query reading them) instead of hanging."""
    if obs._jo is not None:  # never observed: obs.get raises its own error
        jvm = obs._jvm
        at_most = jvm.scala.concurrent.duration.Duration.apply(
            int(OBSERVATION_TIMEOUT_S * 1000),
            jvm.java.util.concurrent.TimeUnit.MILLISECONDS,
        )
        try:
            jvm.scala.concurrent.Await.ready(obs._jo.future(), at_most)
        except Py4JJavaError as e:
            name = e.java_exception.getClass().getName()
            if name != "java.util.concurrent.TimeoutException":
                raise
            raise TimeoutError(
                f"{label}: observed metrics not reported within "
                f"{OBSERVATION_TIMEOUT_S:g} s"
            ) from None
    return obs.get


# RDD ids of the pins ``release`` has not freed yet. Ids, not py4j handles:
# a handle would keep a pin nobody releases reachable, and Spark's
# ContextCleaner could no longer drop it. The knn and semdedup pools pin
# from worker threads, hence the lock.
_PINS: set[int] = set()
_PINS_LOCK = threading.Lock()
_RELEASE_WARNED = False


def pin(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint()``: run ``df`` now and cut its lineage, so its
    consumers read the stored blocks instead of re-running the plan. The
    pinned RDD is recorded for ``release``."""
    out = df.localCheckpoint()
    rdd_id = out._jdf.logicalPlan().rdd().id()  # noqa: SLF001
    with _PINS_LOCK:
        _PINS.add(rdd_id)
    return out


def release(spark: SparkSession) -> None:
    """Free what finished queries left in ``spark``: ``clearCache()`` drops
    cached relations, and each pin still persisted is unpersisted, blocking,
    so its blocks are gone before the next query runs. RDDs the caller
    persisted itself are left alone."""
    global _RELEASE_WARNED
    spark.catalog.clearCache()
    with _PINS_LOCK:
        ids = list(_PINS)
        _PINS.clear()
    try:
        sc = spark.sparkContext._jsc.sc()  # noqa: SLF001
        held = sc.getPersistentRDDs()
        live = {i for i in ids if held.contains(i)}
        if not live:
            return
        freed = sum(
            info.memSize() + info.diskSize()
            for info in sc.getRDDStorageInfo()
            if info.id() in live
        )
        # SparkContext.unpersistRDD, not RDD.unpersist: the latter logs one
        # "was locally checkpointed ... cannot be recomputed" WARN per pin
        for i in live:
            sc.unpersistRDD(i, True)
        # A full GC uncommits heap, so the next query pays page re-commit
        # faults (0.1-1.5 s per query on a 32g heap); it pays off only
        # after big drops: over 1 GiB of leftover blocks slowed repeated
        # 24M-edge k-core runs from 26 to 93 s.
        if freed > 1 << 30:
            spark.sparkContext._jvm.System.gc()  # noqa: SLF001
    except Exception as exc:  # pragma: no cover - py4j version drift
        if not _RELEASE_WARNED:
            _RELEASE_WARNED = True
            _log.warning("release failed (%r); pinned blocks may leak across queries", exc)
