"""Faker-grade generator surface: locale tables, new formatters, and
Column/Python twin agreement (reference parity: locale-configurable Faker,
reference src/Anonymizer.php:53-55, config/config-sample.php:8)."""

import pytest
from pyspark.sql import functions as F

from mysql_data_anonymizer_spark import Anonymizer
from mysql_data_anonymizer_spark.functions.generator import (
    LOCALES,
    DeterministicGenerator,
    PyRowGenerator,
)
from mysql_data_anonymizer_spark.session import EngineConfig

FORMATTERS = [
    "email",
    "name",
    "first_name",
    "last_name",
    "city",
    "company",
    "address",
    "ipv4",
    "credit_card_number",
    "phone_number",
    "uuid",
    "date_of_birth",
]


@pytest.mark.parametrize("locale", sorted(LOCALES))
def test_column_and_python_twins_agree(spark, locale):
    """Every formatter produces identical values through the Column
    expression path and the per-row Python path, for every locale."""
    df = spark.range(1, 21).select(F.col("id").cast("string").alias("k"))
    gen = DeterministicGenerator(42, F.col("k"), "col1", locale=locale)
    cols = [getattr(gen, f).alias(f) for f in FORMATTERS]
    got = {r["k"]: r.asDict() for r in df.select("k", *cols).collect()}
    for k, row in got.items():
        pygen = PyRowGenerator(42, k, "col1", locale=locale)
        for f in FORMATTERS:
            assert row[f] == getattr(pygen, f), (locale, f, k)


def test_locales_actually_differ():
    a = PyRowGenerator(42, "7", "c", locale="en_US")
    b = PyRowGenerator(42, "7", "c", locale="de_DE")
    c = PyRowGenerator(42, "7", "c", locale="fr_FR")
    assert len({a.name, b.name, c.name}) == 3
    assert b.company.split()[-1] in LOCALES["de_DE"]["company_suffixes"]


def test_credit_card_luhn_valid():
    for k in range(50):
        cc = PyRowGenerator(42, str(k), "c").credit_card_number
        assert len(cc) == 16 and cc[0] == "4"
        digits = [int(c) for c in cc]
        # standard Luhn verification: double every second digit from the right
        total = 0
        for i, d in enumerate(reversed(digits)):
            if i % 2 == 1:
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        assert total % 10 == 0, cc


def test_ipv4_in_private_range():
    for k in range(20):
        ip = PyRowGenerator(42, str(k), "c").ipv4
        octets = ip.split(".")
        assert octets[0] == "10" and len(octets) == 4
        assert all(0 <= int(o) <= 255 for o in octets[1:])


def test_dob_age_window():
    import datetime

    base = datetime.date(2008, 1, 1)
    for k in range(20):
        dob = PyRowGenerator(42, str(k), "c").date_of_birth
        age_days = (base - dob).days
        assert 18 * 365 <= age_days < 90 * 365


def test_engine_config_validation():
    with pytest.raises(ValueError, match="locale"):
        EngineConfig(locale="xx_XX")
    with pytest.raises(ValueError, match="int"):
        EngineConfig(seed="many")
    EngineConfig(locale="fr_FR")  # valid


def test_driver_memory_default_fits_the_machine(spark, monkeypatch):
    """The driver heap defaults to the smaller of 32g and half the physical
    memory (8g on a 16 GB box); SPARK_GRAFT_DRIVER_MEM overrides it. The
    suite's own session was built with that default."""
    import os

    from mysql_data_anonymizer_spark.session import _driver_memory

    if not os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        assert spark.sparkContext.getConf().get("spark.driver.memory") == _driver_memory()
    page = os.sysconf("SC_PAGE_SIZE")
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    for gib, want in ((16, "8192m"), (256, "32768m")):
        pages = (gib << 30) // page
        monkeypatch.setattr(os, "sysconf", lambda k, n=pages: page if k == "SC_PAGE_SIZE" else n)
        assert _driver_memory() == want
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert _driver_memory() == "3g"


def test_session_is_sized_from_its_cores(spark, monkeypatch):
    """The default master is local[SPARK_GRAFT_CPUS], else one core per CPU
    this process may run on, and shuffle partitions follow the session's
    cores unless ``extra_spark_conf`` names the key."""
    import os

    key = "spark.sql.shuffle.partitions"
    cores = str(spark.sparkContext.defaultParallelism)
    assert spark.conf.get(key) == cores

    from mysql_data_anonymizer_spark.session import _default_master, get_spark

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _default_master() == "local[3]"
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5, 7, 9})
    assert _default_master() == "local[5]"
    try:
        config = EngineConfig(extra_spark_conf={key: "7"})
        assert get_spark("mda-tests", config, master="local[4]") is spark
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, cores)


def test_anonymizer_locale_flows_to_masks(spark, customer):
    anon = Anonymizer(spark, EngineConfig(locale="de_DE"))
    anon.register("customer", customer)
    anon.table(
        "customer",
        lambda t: t.primary("c_custkey").column("c_name").replaceWith(lambda g: g.first_name),
    )
    names = {r.c_name for r in anon.run()["customer"].collect()}
    assert names <= set(LOCALES["de_DE"]["first_names"])


def test_synchro_database_qualifier(spark, customer, orders):
    """synchronizeColumn([field, table, database]) targets the qualified
    registration (reference src/Blueprint.php:185-202)."""
    anon = Anonymizer(spark)
    anon.register("customer", customer)
    anon.register("shop.orders", orders)
    anon.table(
        "customer",
        lambda t: t.primary("c_custkey")
        .column("c_custkey")
        .replaceWith(F.col("c_custkey") + F.lit(5_000_000))
        .synchronizeColumn(["o_custkey", "orders", "shop"]),
    )
    state = anon.run()
    assert state["shop.orders"].filter(F.col("o_custkey") < 5_000_000).count() == 0


def test_buggy_closure_raises_not_swallowed(spark, customer):
    """A genuine bug inside a Column-returning closure must propagate, not
    be silently rerouted to the slow Python path."""
    from mysql_data_anonymizer_spark.blueprint import Blueprint
    from mysql_data_anonymizer_spark.plans.compiler import compile_plan

    def bad(g):
        raise KeyError("bug in user closure")

    bp = Blueprint("customer", lambda t: t.primary("c_custkey").column("c_name").replaceWith(bad))
    with pytest.raises(KeyError):
        compile_plan(customer, bp.plan)


def test_twins_agree_on_adversarial_keys(spark):
    """Unicode, empty, quote-bearing, and whitespace keys must hash
    identically through the Column (JVM md5 over UTF-8) and Python
    (hashlib md5 over UTF-8) paths."""
    keys = ["", "  ", "naïve", "日本語キー", "O'Hara \"x\"", "a|b|c", "🙂🙃", "\t\n"]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    gen = DeterministicGenerator(42, F.col("k"), "c")
    got = {r["k"]: (r["e"], r["u"]) for r in df.select(
        "k", gen.email.alias("e"), gen.uuid.alias("u")).collect()}
    for k in keys:
        py = PyRowGenerator(42, k, "c")
        assert got[k] == (py.email, py.uuid), k
