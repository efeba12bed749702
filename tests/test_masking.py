"""Unit tests per masking operator (SURVEY §2.1 inventory, §5 strategy #1).

Each test mirrors one behavior of the reference acceptance scenario
(/root/reference/example.php:9-49) on the driver fixtures.
"""

import pytest
from pyspark.sql import functions as F

from mysql_data_anonymizer_spark import Anonymizer
from mysql_data_anonymizer_spark.blueprint import Blueprint
from mysql_data_anonymizer_spark.functions.generator import PyRowGenerator
from mysql_data_anonymizer_spark.functions.rownum import with_row_index
from mysql_data_anonymizer_spark.plans.compiler import compile_plan


def make_users(spark, customer):
    """Derive the reference example's users table from customer (FIXTURES §1)."""
    return customer.select(
        F.col("c_custkey").alias("id"),
        *[
            F.concat(F.lit("u"), F.col("c_custkey"), F.lit(f"@ex{n}.com")).alias(f"email{n}")
            for n in range(1, 6)
        ],
    )


@pytest.fixture(scope="module")
def users(spark, customer):
    df = make_users(spark, customer)
    df.cache().count()
    return df


def test_static_replace(users):
    bp = Blueprint("users", lambda t: t.primary("id").column("email1").replaceWith("john@example.com"))
    out = compile_plan(users, bp.plan).df
    vals = {r.email1 for r in out.collect()}
    assert vals == {"john@example.com"}


def test_row_template_is_pk_ordered(users):
    bp = Blueprint(
        "users", lambda t: t.primary("id").column("email2").replaceWith("email_#row#@example.com")
    )
    out = compile_plan(users, bp.plan).df
    rows = sorted(out.collect(), key=lambda r: r.id)
    assert [r.email2 for r in rows] == [f"email_{i}@example.com" for i in range(len(rows))]


def test_generator_closure_returns_expression(users):
    bp = Blueprint(
        "users", lambda t: t.primary("id").column("email3").replaceWith(lambda g: g.email)
    )
    out = compile_plan(users, bp.plan).df.collect()
    assert all("@" in r.email3 and r.email3.startswith("user_") for r in out)
    # deterministic: same seed => same values
    out2 = compile_plan(users, bp.plan).df.collect()
    assert {(r.id, r.email3) for r in out} == {(r.id, r.email3) for r in out2}


def test_generator_matches_python_twin(users):
    bp = Blueprint(
        "users", lambda t: t.primary("id").column("email3").replaceWith(lambda g: g.email)
    )
    out = compile_plan(users, bp.plan, seed=7).df.collect()
    for r in out:
        assert r.email3 == PyRowGenerator(7, str(r.id), "email3").email


def test_guarded_mask(users):
    bp = Blueprint(
        "users",
        lambda t: t.primary("id").column("email4").where("id % 2 = 0").replaceWith("masked@x.com"),
    )
    out = compile_plan(users, bp.plan).df.collect()
    for r in out:
        if r.id % 2 == 0:
            assert r.email4 == "masked@x.com"
        else:
            assert r.email4 == f"u{r.id}@ex4.com"


def test_unique_generator(users):
    bp = Blueprint(
        "users",
        lambda t: t.primary("id").column("email4").replaceWith(lambda g: g.unique().email),
    )
    out = compile_plan(users, bp.plan).df
    n = out.count()
    assert out.select("email4").distinct().count() == n


def test_replace_by_fields_sees_earlier_masks(users):
    """Position sensitivity: email5 := updated email4 (example.php:37-42)."""

    def bp_fn(t):
        t.primary("id")
        t.column("email4").replaceWith("first@x.com")
        t.column("email5").replaceByFields(lambda row, g: row["email4"].upper())

    out = compile_plan(users, Blueprint("users", bp_fn).plan).df.collect()
    assert all(r.email5 == "FIRST@X.COM" for r in out)


def test_python_closure_fallback(users):
    """A closure doing host-language string work routes to the pandas-UDF path."""
    bp = Blueprint(
        "users",
        lambda t: t.primary("id").column("email1").replaceWith(lambda g: g.email.upper()),
    )
    out = compile_plan(users, bp.plan).df.collect()
    assert all(r.email1.startswith("USER_") for r in out)


def test_global_where_split(users):
    def bp_fn(t):
        t.primary("id")
        t.globalWhere("id % 3 != 0")
        t.column("email1").replaceWith("masked@x.com")

    out = compile_plan(users, Blueprint("users", bp_fn).plan).df
    rows = out.collect()
    assert len(rows) == users.count()  # untouched rows re-unioned
    for r in rows:
        if r.id % 3 != 0:
            assert r.email1 == "masked@x.com"
        else:
            assert r.email1 == f"u{r.id}@ex1.com"


def test_row_template_counts_filtered_rows_only(users):
    def bp_fn(t):
        t.primary("id")
        t.globalWhere("id > 5")
        t.column("email2").replaceWith("e#row#@x.com")

    out = compile_plan(users, Blueprint("users", bp_fn).plan).df
    matched = sorted([r for r in out.collect() if r.id > 5], key=lambda r: r.id)
    assert [r.email2 for r in matched] == [f"e{i}@x.com" for i in range(len(matched))]


def test_composite_primary_key(users):
    bp = Blueprint(
        "users",
        lambda t: t.primary(["id", "email1"]).column("email3").replaceWith(lambda g: g.email),
    )
    out = compile_plan(users, bp.plan).df.collect()
    assert len({(r.id, r.email3) for r in out}) == len(out)


def test_untouched_columns_invariant(users, spark):
    bp = Blueprint("users", lambda t: t.primary("id").column("email1").replaceWith("x@y.z"))
    out = compile_plan(users, bp.plan).df
    orig = {r.id: (r.email2, r.email3, r.email4, r.email5) for r in users.collect()}
    for r in out.collect():
        assert orig[r.id] == (r.email2, r.email3, r.email4, r.email5)


def test_replace_with_generator_sugar(users):
    bp = Blueprint(
        "users", lambda t: t.primary("id").column("email3").replaceWithGenerator("email", True)
    )
    out = compile_plan(users, bp.plan).df
    assert out.select("email3").distinct().count() == out.count()


def test_synchronize_column_remap(spark, users):
    """FK cascade: class.user_id follows users.id (example.php:44-48)."""
    klass = users.select(
        (F.col("id") * 1000).alias("class_id"), F.col("id").alias("user_id")
    )

    def bp_fn(t):
        t.primary("id")
        t.column("id").replaceWith(F.col("id") + 1000000).synchronizeColumn(
            ["user_id", "class"]
        )

    anon = Anonymizer(spark)
    anon.register("users", users).register("class", klass)
    anon.table("users", bp_fn)
    state = anon.run()
    new_ids = {r.id for r in state["users"].collect()}
    ref_ids = {r.user_id for r in state["class"].collect()}
    assert ref_ids <= new_ids  # referential integrity preserved
    assert all(i >= 1000000 for i in ref_ids)


def test_row_index_matches_global_window(spark, customer):
    got = with_row_index(customer, ["c_custkey"], "rn", num_partitions=8)
    rows = sorted(got.select("c_custkey", "rn").collect(), key=lambda r: r.c_custkey)
    assert [r.rn for r in rows] == list(range(len(rows)))


def test_plan_validation_rejects_unknown_columns(users):
    bp = Blueprint("users", lambda t: t.primary("id").column("email1").replaceWith("x"))
    bp.plan.columns[0].name = "nope"
    with pytest.raises(ValueError, match="unknown columns"):
        compile_plan(users, bp.plan)


def test_set_default_primary_class_level(spark, customer):
    """Reference Blueprint::setDefaultPrimary parity (src/Blueprint.php:
    87-90): the class-level default primary applies to blueprints that
    never call primary(); an explicit primary() still overrides; restoring
    the default keeps other tests isolated."""
    from mysql_data_anonymizer_spark.blueprint import Blueprint

    old = list(Blueprint._default_primary)
    try:
        Blueprint.setDefaultPrimary("c_custkey")
        bp = Blueprint("customer", lambda t: t.column("c_name").replaceWith("X"))
        assert bp.plan.primary == ["c_custkey"]
        bp2 = Blueprint(
            "customer",
            lambda t: t.primary(["c_custkey", "c_nationkey"])
            .column("c_name").replaceWith("X"),
        )
        assert bp2.plan.primary == ["c_custkey", "c_nationkey"]
        # and the defaulted blueprint actually compiles + runs
        from mysql_data_anonymizer_spark.plans.compiler import compile_plan

        out = compile_plan(customer, bp.plan, seed=1).df
        assert out.where(F.col("c_name") != "X").count() == 0
    finally:
        Blueprint.setDefaultPrimary(old)


def test_masking_report_counts_and_zero_change_detection(spark, customer):
    """masking_report: per-column changed counts are exact, and a mask that
    matches nothing reports n_changed == 0 (the steward's misconfiguration
    signal)."""
    from mysql_data_anonymizer_spark.anonymizer import Anonymizer, masking_report

    anon = Anonymizer(spark)
    anon.register("customer", customer)
    anon.table(
        "customer",
        lambda t: t.primary("c_custkey")
        .column("c_name").replaceWith("XXXX")
        .column("c_mktsegment").where("c_mktsegment = 'NO_SUCH_SEGMENT'")
        .replaceWith("NEVER"),
    )
    pre = dict(anon.sources)
    post = anon.run()
    rep = {r.column_name: (r.n_rows, r.n_changed)
           for r in masking_report(pre, post, anon.blueprints).collect()}
    n = customer.count()
    assert rep["c_name"] == (n, n)  # every name changed
    assert rep["c_mktsegment"] == (n, 0)  # guard matched nothing -> visible


def test_masking_report_synchro_cascade_and_masked_pk(spark, customer):
    """Cascade auditing (reference trigger cascade, src/Anonymizer.php:
    403-424): a masked pk is matched pre->post through the key mapping, the
    referencing table gets its own report row, and the two misconfiguration
    paths (missing key_mappings / missing ref_keys) raise instead of
    silently under-reporting."""
    import pytest
    from mysql_data_anonymizer_spark.anonymizer import Anonymizer, masking_report

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    anon = Anonymizer(spark)
    anon.register("customer", customer)
    anon.register("orders", orders)
    anon.table(
        "customer",
        lambda t: t.primary("c_custkey")
        .column("c_custkey").where("c_custkey % 3 = 0")
        .replaceWith(F.col("c_custkey") + F.lit(1000000000))
        .synchronizeColumn(["o_custkey", "orders"]),
    )
    pre = dict(anon.sources)
    post = anon.run()
    rep = masking_report(
        pre, post, anon.blueprints,
        ref_keys={"orders": ["o_orderkey"]}, key_mappings=anon.key_mappings,
    )
    rows = {(r.table_name, r.column_name): (r.n_rows, r.n_changed) for r in rep.collect()}
    n_cust = customer.count()
    n_masked = customer.where("c_custkey % 3 = 0").count()
    n_orders = orders.count()
    n_cascaded = (
        orders.join(customer.where("c_custkey % 3 = 0"),
                    orders.o_custkey == F.col("c_custkey"), "left_semi").count()
    )
    assert rows[("customer", "c_custkey")] == (n_cust, n_masked)
    assert rows[("orders", "o_custkey")] == (n_orders, n_cascaded)
    with pytest.raises(ValueError, match="key_mappings"):
        masking_report(pre, post, anon.blueprints, ref_keys={"orders": ["o_orderkey"]})
    with pytest.raises(ValueError, match="ref_keys"):
        masking_report(pre, post, anon.blueprints, key_mappings=anon.key_mappings)


def test_masking_report_resolves_qualified_synchro_target_to_bare_table(spark, customer, orders):
    """A ``[fk, table, database]`` target whose table is registered bare
    resolves to the bare name in the report as it does in ``run``: the
    cascade row is emitted, not silently skipped."""
    from mysql_data_anonymizer_spark.anonymizer import masking_report

    anon = Anonymizer(spark).register("customer", customer).register("orders", orders)
    anon.table(
        "customer",
        lambda t: t.primary("c_custkey")
        .column("c_custkey").replaceWith(F.col("c_custkey") + F.lit(1000000000))
        .synchronizeColumn(["o_custkey", "orders", "db"]),
    )
    pre = dict(anon.sources)
    post = anon.run()
    rep = masking_report(
        pre, post, anon.blueprints,
        ref_keys={"orders": ["o_orderkey"]}, key_mappings=anon.key_mappings,
    )
    rows = {(r.table_name, r.column_name): (r.n_rows, r.n_changed) for r in rep.collect()}
    n_cascaded = orders.join(customer, orders.o_custkey == customer.c_custkey, "left_semi").count()
    assert rows[("orders", "o_custkey")] == (orders.count(), n_cascaded)


def test_register_parquet_dir_reads_events_ts_as_timestamp(spark, sf_dir):
    """The quick-start registration reads tables like the registry does:
    events.ts (INT64 TIMESTAMP(MICROS), not UTC-adjusted, on disk) is a
    timestamp, not timestamp_ntz."""
    anon = Anonymizer(spark).register_parquet_dir(sf_dir)
    assert dict(anon.sources["events"].dtypes)["ts"] == "timestamp"


def test_row_index_exact_in_subsampled_boundary_regime(spark):
    """Regression (found by the sf0.1 full-registry sweep): when partitions
    exceed RangePartitioner's reservoir sampleSizePerPartition, the sampled
    boundaries become run-varying — and with the row-index frame consumed
    twice (counts + final join), two evaluations used to sample DIFFERENT
    boundaries, shifting every index after the first divergence. 60k rows
    over 32 partitions forces the subsampling regime; the index must equal
    the exact rank of the (shuffled-insertion-order) key, three runs in a
    row."""
    from pyspark.sql import functions as F

    from mysql_data_anonymizer_spark.functions.rownum import with_row_index

    # keys inserted in a scrambled order so range boundaries do real work
    df = spark.range(60000).select(
        F.xxhash64("id").alias("scramble"), (F.col("id") * 7 % 60000).alias("k")
    ).orderBy("scramble").select("k")
    for _ in range(3):
        out = with_row_index(df, ["k"], "rn", num_partitions=32)
        bad = out.where(F.col("rn") != F.col("k")).count()
        assert bad == 0, f"{bad} drifted indexes"
