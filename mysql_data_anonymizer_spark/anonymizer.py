"""Engine facade: table registry + plan execution + key propagation.

Reference flow (src/Anonymizer.php:152-195): per table, install AFTER UPDATE
triggers for synchronized columns, stream SELECT rows, emit one UPDATE per
row over an async pool, drop triggers. Here:

  - tables are DataFrames (parquet/csv/json/JDBC via sources/);
  - each blueprint compiles to one declarative plan (plans/compiler.py);
  - trigger-based cascading (src/Anonymizer.php:403-424) becomes an explicit
    broadcast-hash-join remap: mapping(old_key, new_key) joined into every
    referencing table, ``coalesce(new, fk)``. The mapping side is small
    (distinct keys of one table) -> broadcast, no shuffle of the fact table;
  - FK-check suppression (src/Anonymizer.php:157) is unnecessary: writes are
    staged functionally and can be ordered/verified before commit.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mysql_data_anonymizer_spark.blueprint import Blueprint
from mysql_data_anonymizer_spark.plans.compiler import compile_plan
from mysql_data_anonymizer_spark.session import EngineConfig
from mysql_data_anonymizer_spark.sources import files

TABLE_NAMES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


class Anonymizer:
    def __init__(self, spark: SparkSession, config: EngineConfig | None = None):
        self.spark = spark
        self.config = config or EngineConfig()
        self.sources: dict[str, DataFrame] = {}
        self.blueprints: dict[str, Blueprint] = {}

    # -- registry ----------------------------------------------------------
    def register(self, name: str, df: DataFrame) -> "Anonymizer":
        self.sources[name] = df
        return self

    def register_parquet_dir(self, sf_dir: str, names: list[str] | None = None) -> "Anonymizer":
        """Register every fixture table under ``sf_dir`` (TESTDATA layout),
        read like the registry queries read them (events.ts a timestamp)."""
        for name in names or TABLE_NAMES:
            path = f"{sf_dir}/{name}.parquet"
            self.sources[name] = files.read_table(self.spark, path, table_name=name)
        return self

    def table(self, name: str, callback: Callable[[Blueprint], None]) -> "Anonymizer":
        """Declare a masking blueprint (reference src/Anonymizer.php:205-210)."""
        self.blueprints[name] = Blueprint(name, callback)
        return self

    # -- execution ----------------------------------------------------------
    def run(self) -> dict[str, DataFrame]:
        """Execute all blueprints in declaration order; returns the full
        post-state (masked tables + remapped referencing tables + untouched
        registered tables)."""
        state = dict(self.sources)
        self.key_mappings: dict[str, dict[str, DataFrame]] = {}
        for name, bp in self.blueprints.items():
            if name not in state:
                raise KeyError(f"table {name!r} not registered")
            compiled = compile_plan(
                state[name], bp.plan, seed=self.config.seed, locale=self.config.locale
            )
            state[name] = compiled.df
            self.key_mappings[name] = compiled.key_mappings
            for src_col, target in bp.plan.synchro_targets():
                key = synchro_key(target, state)
                if key is None:
                    raise KeyError(
                        f"synchronizeColumn target table {target.table!r} not registered"
                    )
                state[key] = remap_keys(state[key], target.field, compiled.key_mappings[src_col])
        return state

    def write_parquet(self, state: dict[str, DataFrame], out_dir: str) -> None:
        for name, df in state.items():
            df.write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")


def synchro_key(target, tables) -> str | None:
    """The registered name a synchronizeColumn target resolves to, or None.
    Honors the [field, table, database] qualifier (reference
    src/Blueprint.php:185-202, default DB fill src/Anonymizer.php:381-392):
    a 'database.table' registration wins, else the bare table name."""
    if target.database and f"{target.database}.{target.table}" in tables:
        return f"{target.database}.{target.table}"
    return target.table if target.table in tables else None


def verify_referential_integrity(
    state: dict[str, DataFrame],
    fk_specs: list[tuple[str, str, str, str]],
) -> dict[str, int]:
    """Post-run FK check — replaces the reference's FK-check *suppression*
    (``SET FOREIGN_KEY_CHECKS=0``, src/Anonymizer.php:157, never re-enabled)
    with explicit verification: for each (child_table, fk_col, parent_table,
    pk_col) spec, count child rows whose fk has no parent (left-anti join).
    Returns {child.fk: orphan_count}; all zeros == integrity holds."""
    out: dict[str, int] = {}
    for child, fk, parent, pk in fk_specs:
        orphans = (
            state[child]
            .select(F.col(fk).alias("__fk"))
            .where(F.col("__fk").isNotNull())
            .join(state[parent].select(F.col(pk).alias("__fk")), "__fk", "left_anti")
            .count()
        )
        out[f"{child}.{fk}"] = orphans
    return out


def remap_keys(ref: DataFrame, fk_col: str, mapping: DataFrame) -> DataFrame:
    """Replace ``ref.fk_col`` values per mapping(__old, __new) — the Spark
    equivalent of the reference's AFTER UPDATE trigger
    ``UPDATE ref SET fk = NEW.col WHERE fk = OLD.col``
    (reference src/Anonymizer.php:416-418).

    The mapping (distinct keys of the masked table) is broadcast, so the
    referencing fact table is never shuffled — at 100 TB this is a map-side
    hash join per referencing table.
    """
    cols = ref.columns
    out = ref.join(F.broadcast(mapping), ref[fk_col] == mapping["__old"], "left")
    out = out.withColumn(fk_col, F.coalesce(F.col("__new"), F.col(fk_col)))
    return out.select(*cols)


def masking_report(
    pre: dict[str, DataFrame],
    post: dict[str, DataFrame],
    blueprints: dict[str, Blueprint],
    ref_keys: dict[str, list[str]] | None = None,
    key_mappings: dict[str, dict[str, DataFrame]] | None = None,
) -> DataFrame:
    """Auditable run report — the reviewable version of the reference's
    console progress (src/Anonymizer.php echoes per-table/row status): for
    every masked column, how many rows exist and how many actually CHANGED
    value. Data stewards sign off on this table; a mask that silently
    changed 0 rows (bad guard, wrong column) is visible immediately.

    Shape: one pk-join per masked table comparing pre vs post column
    values null-safely, then one tiny aggregate per table — no
    collect, no per-column rescan (all per-column counts ride one
    aggregate over the joined frame). Returns (table_name, column_name,
    n_rows, n_changed) with deterministic values for any partitioning.

    When the masked column IS a primary-key column (the reference's key
    remap + trigger cascade, src/Anonymizer.php:403-424), row identity
    can't be joined on the raw pk — the pre side is first remapped through
    the compiled (old, new) ``key_mappings`` (``Anonymizer.run`` stashes
    them as ``anon.key_mappings``) so pre and post line up on the NEW key.
    Synchro cascade targets are reported too: for every
    ``synchronizeColumn`` target whose table appears in pre/post, one
    (table, fk_column, n_rows, n_changed) row counts how many referencing
    rows were actually remapped; ``ref_keys`` supplies the referencing
    table's pk (required — a cascade silently missing from the audit is
    exactly the failure this report exists to catch)."""
    reports = []
    for tname, bp in blueprints.items():
        plan = bp.plan
        cols = [m.name for m in plan.columns]
        if not cols:
            continue
        pk = plan.primary
        a = pre[tname].select(*pk, *[F.col(c).alias(f"__pre_{c}") for c in cols])
        masked_pks = [c for c in pk if c in cols]
        for c in masked_pks:
            mapping = (key_mappings or {}).get(tname, {}).get(c)
            if mapping is None:
                raise ValueError(
                    f"masking_report: pk column {tname}.{c} is masked; pass "
                    "key_mappings (Anonymizer.run stashes them as "
                    "anon.key_mappings) so pre rows can be matched to post"
                )
            a = remap_keys(a, c, mapping)
        b = post[tname].select(*pk, *[F.col(c).alias(f"__post_{c}") for c in cols])
        joined = a.join(b, pk)
        agg = joined.agg(
            F.count(F.lit(1)).alias("__n"),
            *[
                F.sum(
                    F.when(
                        ~F.col(f"__pre_{c}").eqNullSafe(F.col(f"__post_{c}")), 1
                    ).otherwise(0)
                ).cast("long").alias(f"__chg_{c}")
                for c in cols
            ],
        )
        stacked = agg.select(
            F.expr(
                "stack({n}, {args}) AS (column_name, n_changed)".format(
                    n=len(cols),
                    args=", ".join(f"'{c}', __chg_{c}" for c in cols),
                )
            ),
            F.col("__n").alias("n_rows"),
        )
        reports.append(
            stacked.select(
                F.lit(tname).alias("table_name"), "column_name", "n_rows", "n_changed"
            )
        )
    # -- synchro cascade rows: the remapped REFERENCING tables -------------
    for tname, bp in blueprints.items():
        for _src_col, target in bp.plan.synchro_targets():
            key = synchro_key(target, post)
            if key is None or key not in pre:
                continue
            rk = (ref_keys or {}).get(key)
            if rk is None:
                raise ValueError(
                    f"masking_report: synchro target {key}.{target.field} has no "
                    "entry in ref_keys — pass the referencing table's primary "
                    "key so the cascade can be audited"
                )
            fk = target.field
            ra = pre[key].select(*rk, F.col(fk).alias("__pre_fk"))
            rb = post[key].select(*rk, F.col(fk).alias("__post_fk"))
            ragg = ra.join(rb, list(rk)).agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.when(~F.col("__pre_fk").eqNullSafe(F.col("__post_fk")), 1).otherwise(0)
                ).cast("long").alias("n_changed"),
            )
            reports.append(
                ragg.select(
                    F.lit(key).alias("table_name"),
                    F.lit(fk).alias("column_name"),
                    "n_rows",
                    "n_changed",
                )
            )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out
