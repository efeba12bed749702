"""Privacy auditing & erasure operators: k-anonymity, l-diversity, and
right-to-be-forgotten cascades.

The reference engine masks values but never MEASURES the result
(src/Anonymizer.php has no audit surface); these operators close that loop
for a production anonymization pipeline:

- k-anonymity: every quasi-identifier (QI) combination must be shared by at
  least k rows, or the combination re-identifies individuals.
- l-diversity: within every QI group, the sensitive attribute must take at
  least l distinct values, or group membership leaks the attribute.
- RTBF cascade: erase a subject set from the primary table AND every
  referencing table (the deletion mirror of the FK key-remap synchro,
  anonymizer.py::remap_keys).

Scale shapes: the audits are single hash aggregates on the QI key (map-side
combinable; l-diversity's distinct rides the same shuffle). The cascade is
one keyed anti join per table — the forget-key set broadcasts when small
(the usual case: erasure requests are per-subject), else falls back to a
keyed shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mysql_data_anonymizer_spark.operators.text import _hex_u32, _md5_u32


def k_anonymity_audit(
    df: DataFrame, quasi_cols: list[str], k: int
) -> DataFrame:
    """QI combinations violating k-anonymity: one row per group with
    group_size < k. Empty result == the table IS k-anonymous for these
    quasi-identifiers."""
    return (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).alias("group_size"))
        .where(F.col("group_size") < k)
    )


def l_diversity_audit(
    df: DataFrame, quasi_cols: list[str], sensitive_col: str, l: int
) -> DataFrame:
    """QI groups whose sensitive attribute has fewer than ``l`` distinct
    values. The countDistinct rides the same QI-keyed shuffle as the group
    size — one aggregation pass."""
    return (
        df.groupBy(*quasi_cols)
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.countDistinct(sensitive_col).alias("n_sensitive"),
        )
        .where(F.col("n_sensitive") < l)
    )


def forget_cascade(
    tables: dict[str, DataFrame],
    forget_keys: DataFrame,
    key_cols: dict[str, str],
) -> dict[str, DataFrame]:
    """Right-to-be-forgotten: drop every row whose key column (per-table
    name in ``key_cols``) appears in ``forget_keys`` (single column named
    ``key``). Returns the erased view of every table; each is one LEFT
    ANTI join against the broadcast forget set."""
    out = {}
    fk = F.broadcast(forget_keys.select(F.col("key")))
    for name, df in tables.items():
        kc = key_cols[name]
        out[name] = df.join(fk, df[kc] == fk["key"], "left_anti")
    return out


def dp_noised_counts(
    df: DataFrame,
    group_cols: list[str],
    epsilon: float = 0.5,
    seed: str = "dp",
) -> DataFrame:
    """Differentially-private group counts: exact counts plus SEEDED Laplace
    noise with scale 1/epsilon (count queries have sensitivity 1, so this
    is the textbook eps-DP Laplace mechanism — Dwork et al. 2006). The
    noise is derived deterministically from md5(seed, group key) via
    inverse-CDF: u ~ U(0,1) from the first 8 hex digits, noise =
    -(1/eps) * sign(u - 1/2) * ln(1 - 2|u - 1/2|). Seeded determinism is
    what makes a DP release AUDITABLE and re-runnable (same seed -> same
    release; a fresh seed is a fresh epsilon spend) — and run/partitioning
    -invariant, unlike rand(). Returns group_cols + (exact_n, noisy_n);
    callers release ONLY noisy_n — exact_n is the certification twin.

    100 TB: rides the count aggregate's existing keyed shuffle; the noise
    is one map-side codegen'd expression per group row. No extra pass."""
    b = 1.0 / epsilon
    out = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("exact_n"))
    # NULL group keys get an explicit sentinel: concat_ws would silently
    # SKIP nulls (colliding ('a', NULL) with ('a',)), and the SQL twin's
    # `||` would null the whole key
    key = F.concat_ws(
        ":",
        F.lit(seed),
        *[F.coalesce(F.col(c).cast("string"), F.lit("<NULL>")) for c in group_cols],
    )
    h = _md5_u32(key)
    u = (h.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)
    c = F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5))
    noise = F.lit(-b) * F.signum(u - F.lit(0.5)) * F.log(c)
    return out.withColumn(
        "noisy_n", F.round(F.col("exact_n").cast("double") + noise).cast("long")
    )


def dp_bounded_sum(
    df: DataFrame,
    group_cols: list[str],
    user_col: str,
    value_col: str,
    clamp_cents: int = 10000,
    epsilon: float = 0.5,
    seed: str = "dpsum",
    max_groups: int = 1,
) -> DataFrame:
    """eps-DP SUM with per-user contribution bounding — the step the count
    mechanism (``dp_noised_counts``) doesn't need but every DP *sum/mean*
    release does: an unbounded user could shift the sum arbitrarily, so
    sensitivity is undefined until contributions are bounded. TWO bounds
    are required (Wilson et al., "Differentially Private SQL", VLDB 2020):

      1. VALUE bound: each user's per-group total is clamped to
         [0, clamp_cents].
      2. GROUP bound: each user contributes to at most ``max_groups``
         groups — without it a user present in k groups shifts the full
         release by k * clamp, so USER-level sensitivity is unbounded no
         matter the clamp. Each user's top-``max_groups`` groups are kept
         DETERMINISTICALLY (largest clamped total first, group-key string
         as the tie-break), so the release stays run-reproducible and
         SQL-replayable.

    User-level L1 sensitivity is then max_groups * clamp_cents, and the
    Laplace mechanism applies with scale max_groups * clamp_cents / eps
    (Dwork et al. 2006) under add/remove-one-user adjacency.

    Money flows as EXACT CENTS (DECIMAL->BIGINT) end to end; the seeded
    inverse-CDF Laplace noise (md5(seed, group key), same auditable
    construction as dp_noised_counts) rounds to integer cents, so the
    release is bit-reproducible in plain SQL. Returns group_cols +
    (exact_sum_cents, noisy_sum_cents); callers release ONLY the noisy
    column — exact is the certification twin. NOTE on the seeded noise:
    the eps-DP guarantee holds only if ``seed`` is treated as a SECRET,
    SINGLE-USE key (a public or reused seed makes the noise predictable);
    the determinism buys auditability — same seed -> same release, a fresh
    seed is a fresh epsilon spend. Group keys themselves should be PUBLIC
    partitions (Wilson et al. §4.2): a group whose every contribution is
    truncated away drops out of the release, which is only DP-safe when
    the key list is data-independent.

    100 TB: two keyed shuffles — (user, group) partial sums then the group
    rollup — plus one window partitioned by user for the group bound
    (per-user row counts are the user's group fanout: tiny); clamp and
    noise are codegen projections. No extra pass, no driver work."""
    from pyspark.sql import Window

    b = float(max_groups) * float(clamp_cents) / epsilon
    cents = F.col(value_col).cast("decimal(30,2)") * 100
    per_user = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(user_col, *group_cols)
        .agg(F.sum(cents).cast("long").alias("__user_cents"))
        .withColumn(
            "__clamped",
            F.greatest(F.lit(0), F.least(F.col("__user_cents"), F.lit(clamp_cents))),
        )
    )
    # group-contribution bound: keep each user's top-max_groups groups,
    # deterministically (clamped DESC, sentinel group key ASC)
    gkey = F.concat_ws(
        ":", *[F.coalesce(F.col(c).cast("string"), F.lit("<NULL>")) for c in group_cols]
    )
    w_user = Window.partitionBy(user_col).orderBy(F.desc("__clamped"), gkey.asc())
    per_user = per_user.withColumn("__gr", F.row_number().over(w_user)).where(
        F.col("__gr") <= max_groups
    )
    out = per_user.groupBy(*group_cols).agg(
        F.sum("__clamped").cast("long").alias("exact_sum_cents")
    )
    key = F.concat_ws(
        ":",
        F.lit(seed),
        *[F.coalesce(F.col(c).cast("string"), F.lit("<NULL>")) for c in group_cols],
    )
    h = _md5_u32(key)
    u = (h.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)
    c = F.lit(1.0) - F.lit(2.0) * F.abs(u - F.lit(0.5))
    noise = F.lit(-b) * F.signum(u - F.lit(0.5)) * F.log(c)
    return out.withColumn(
        "noisy_sum_cents",
        F.round(F.col("exact_sum_cents").cast("double") + noise).cast("long"),
    )


def crypto_shred(
    df: DataFrame,
    pk_col: str,
    cols: list[str],
    key_salt: str = "k1",
) -> tuple[DataFrame, DataFrame]:
    """Crypto-shredding envelope encryption — the PRODUCTION right-to-be-
    forgotten for immutable storage: every subject's PII columns are
    AES-GCM-encrypted under a PER-SUBJECT key held in a separate (tiny,
    mutable) key table; "forget user X" is one key-row delete, and the
    petabytes of immutable parquet holding X's ciphertext become
    irrecoverable garbage WITHOUT rewriting a single data file. (The
    anti-join rewrite in ``forget_cascade`` is the complement for mutable
    stores; at 100 TB you cannot rewrite the lake per erasure request.)

    Returns ``(encrypted_df, key_df)``: encrypted_df carries pk + one
    ``<col>_ct`` binary per protected column (plaintext dropped); key_df is
    (pk, __key). Keys here are derived (md5(salt, pk) -> 16-byte AES-128)
    for reproducible tests; production swaps in a KMS-issued random key —
    the envelope shape is identical. Encryption is codegen'd JVM
    `aes_encrypt` (GCM, random IV), map-only; decryption joins the
    (broadcastable) key table and `try_aes_decrypt` yields NULL where the
    key is gone — erasure is VERIFIABLE, not assumed."""
    key = F.unhex(F.md5(F.concat_ws(":", F.lit(key_salt), F.col(pk_col).cast("string"))))
    key_df = df.select(F.col(pk_col), key.alias("__key"))
    enc_cols = [
        F.aes_encrypt(F.col(c).cast("string"), key).alias(f"{c}_ct") for c in cols
    ]
    others = [c for c in df.columns if c not in cols and c != pk_col]
    enc_df = df.select(F.col(pk_col), *others, *enc_cols)
    return enc_df, key_df


def t_closeness_audit(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    t_num: int,
    t_den: int,
) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007) for a
    CATEGORICAL sensitive attribute: a QI group violates t-closeness when
    the total-variation distance between its sensitive-value distribution
    and the table-global one exceeds ``t = t_num/t_den``. Completes the
    k-anonymity / l-diversity audit triad — an l-diverse group still leaks
    when its distribution is SKEWED versus the population (the "equally
    diverse but 90% cancer" attack the paper opens with).

    All comparisons are EXACT INTEGER arithmetic — no float thresholds:
      TV(g) = 1/2 * sum_i |c_gi/n_g - C_i/N|
      scaled: D_g = sum_i |c_gi*N - C_i*n_g|   (= TV * 2*n_g*N)
      violation  <=>  t_den * D_g > 2 * t_num * n_g * N
    Missing categories need no completion join:
      D_g = sum_{i in g}(|c_gi*N - C_i*n_g| - C_i*n_g) + n_g*N.
    The reported ``tv_distance`` is a single IEEE division of exact
    integers (cross-engine bit-stable).

    Scale: one (QI, sensitive)-keyed hash aggregate over the facts; all
    later joins/regroups are over post-aggregation tables (category counts
    broadcast; QI-group totals rejoin on the QI key). The N scalar is a
    1-row broadcast cross join. BIGINT products bound the audit to
    n_g*N < 2^63 (~3e18, i.e. N up to ~1.7e9 rows); beyond that switch the
    three products to DECIMAL(38,0) — same plan shape.
    """
    # NULL-sentinel the sensitive col: it is a join key below, and NULL
    # never equi-joins (both engines) — a NULL category would silently drop
    s = F.coalesce(F.col(sensitive_col).cast("string"), F.lit("<NULL>")).alias("__s")
    grp = df.select(*quasi_cols, s).groupBy(*quasi_cols, "__s").agg(
        F.count(F.lit(1)).alias("c")
    )
    cat = grp.groupBy("__s").agg(F.sum("c").alias("cat_n"))  # tiny: one row/category
    tot = cat.agg(F.sum("cat_n").alias("N"))  # 1 row
    ng = grp.groupBy(*quasi_cols).agg(F.sum("c").alias("group_size"))
    out = (
        grp.join(F.broadcast(cat), "__s")
        .join(ng, quasi_cols)
        .crossJoin(F.broadcast(tot))
        .groupBy(*quasi_cols)
        .agg(
            F.first("group_size").alias("group_size"),
            F.first("N").alias("N"),
            F.sum(
                F.abs(F.col("c") * F.col("N") - F.col("cat_n") * F.col("group_size"))
                - F.col("cat_n") * F.col("group_size")
            ).alias("d_part"),
        )
        .withColumn("d_scaled", F.col("d_part") + F.col("group_size") * F.col("N"))
        .where(
            F.lit(t_den) * F.col("d_scaled")
            > F.lit(2 * t_num) * F.col("group_size") * F.col("N")
        )
        .select(
            *quasi_cols,
            "group_size",
            (
                F.col("d_scaled").cast("double")
                / (F.lit(2.0) * F.col("group_size").cast("double") * F.col("N").cast("double"))
            ).alias("tv_distance"),
        )
    )
    return out


def date_shift(
    df: DataFrame,
    subject_col: str,
    date_col: str,
    max_shift_days: int = 30,
    seed: str = "dshift",
) -> DataFrame:
    """Consistent per-subject date shifting (the HIPAA Safe-Harbor-adjacent
    SDC technique): every record of a subject moves by the SAME uniformly
    chosen offset in [-max_shift_days, +max_shift_days], so within-subject
    intervals (order cadence, length-of-stay, inter-event gaps) are
    preserved exactly while absolute dates are perturbed. The offset is
    derived deterministically from md5(seed, subject) — same seed, same
    release (auditable, re-runnable, partitioning-invariant), a fresh seed
    is a fresh release. Adds ``shift_days`` (certification twin — a real
    release projects it away) and ``<date_col>_shifted``.

    100 TB: one codegen'd expression per row — no shuffle, no join, no
    per-subject state; consistency comes from hashing, not coordination.
    """
    span = 2 * max_shift_days + 1
    key = F.concat(
        F.lit(f"{seed}:"),
        F.coalesce(F.col(subject_col).cast("string"), F.lit("<NULL>")),
    )
    h = _md5_u32(key)
    shift = (h % F.lit(span) - F.lit(max_shift_days)).cast("int")
    return df.withColumn("shift_days", shift).withColumn(
        f"{date_col}_shifted",
        F.date_format(
            F.date_add(F.to_date(F.col(date_col)), F.col("shift_days")), "yyyy-MM-dd"
        ),
    )


def rank_swap_cyclic(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    order_cols: list[str],
) -> DataFrame:
    """Data swapping (Dalenius-Reiss): each record releases ANOTHER record's
    value from the same group — here the deterministic cyclic variant: sort
    the group by (value, tie-break), record at rank r releases rank r+1's
    value (the last wraps to the first). Group-level statistics (multiset,
    sum, mean, quantiles) are preserved EXACTLY — the multiset is merely
    permuted — while row-level linkage is broken. Adds ``<value_col>_swapped``
    plus ``swap_moved`` (did the value actually change — false only in
    degenerate all-equal or singleton groups).

    End-of-partition is detected EXPLICITLY (rank == group size), not via
    ``coalesce(lead(..), first(..))`` — coalesce cannot distinguish "no
    successor" from "successor's value IS NULL", which would vanish NULLs
    and duplicate the first value, breaking exact multiset preservation
    for NULL-bearing groups (ADVICE r6). With NULLS LAST ordering the
    NULLs sort to the tail and the cyclic shift permutes them like any
    other value.

    100 TB: one keyed shuffle on the group key; lead/first_value/count
    ride windows over that same partitioning. No self-join, no second
    pass.
    """
    from pyspark.sql import Window

    # asc_nulls_last everywhere: Spark's default is NULLS FIRST, DuckDB's is
    # NULLS LAST — pin the one the SQL twins assume
    w = Window.partitionBy(*group_cols).orderBy(
        F.col(value_col).asc_nulls_last(),
        *[F.col(c).asc_nulls_last() for c in order_cols],
    )
    wg = Window.partitionBy(*group_cols)
    swapped = F.when(
        F.row_number().over(w) == F.count(F.lit(1)).over(wg),
        F.first(value_col).over(w),
    ).otherwise(F.lead(value_col).over(w))
    return df.withColumn(f"{value_col}_swapped", swapped).withColumn(
        "swap_moved", ~F.col(f"{value_col}_swapped").eqNullSafe(F.col(value_col))
    )


def microaggregate(
    df: DataFrame,
    group_cols: list[str],
    value_cents: "F.Column",
    order_cols: list[str],
    k: int = 5,
) -> DataFrame:
    """k-microaggregation (Domingo-Ferrer/Mateo-Sanz, the μ-Argus SDC
    method): within each group, sort by the attribute and partition the
    ranks into ceil-even clusters of AT LEAST k records, then release each
    record's CLUSTER MEAN instead of its value. Unlike generalization the
    release stays numeric; unlike suppression nothing is dropped. Cluster
    assignment is the exact integer rule g = (rank-1)*ncl div n with
    ncl = max(n div k, 1): every cluster gets floor(n/ncl) or ceil(n/ncl)
    members, all >= k (singleton-to-k-1 groups collapse to one cluster).
    ``value_cents`` must be an exact-integer Column (e.g. cents) so the
    released mean is ONE IEEE division of exact ints — cross-engine stable.

    Returns the input plus (cluster_id, cluster_size, value_masked,
    k_ok) where k_ok asserts cluster_size >= min(k, group size).

    100 TB: two window passes over the SAME group-key shuffle partitioning
    plus one (group, cluster)-keyed re-shuffle for the means — no
    self-joins, no global sort; each group sorts locally within its
    partition.
    """
    from pyspark.sql import Window

    wg = Window.partitionBy(*group_cols)
    # NULLS LAST to match the DuckDB twin (see rank_swap_cyclic)
    wr = Window.partitionBy(*group_cols).orderBy(
        F.col("__cents").asc_nulls_last(),
        *[F.col(c).asc_nulls_last() for c in order_cols],
    )
    staged = (
        df.withColumn("__cents", value_cents.cast("long"))
        .withColumn("__n", F.count(F.lit(1)).over(wg))
        .withColumn("__rn", F.row_number().over(wr))
        .withColumn("__ncl", F.greatest(F.expr(f"__n div {k}"), F.lit(1)))
        .withColumn("cluster_id", F.expr("((__rn - 1) * __ncl) div __n"))
    )
    wc = Window.partitionBy(*group_cols, "cluster_id")
    return (
        staged.withColumn("cluster_size", F.count(F.lit(1)).over(wc))
        .withColumn(
            "value_masked",
            F.sum("__cents").over(wc).cast("double")
            / F.col("cluster_size").cast("double")
            / F.lit(100.0),
        )
        .withColumn("k_ok", F.col("cluster_size") >= F.least(F.lit(k), F.col("__n")))
        .drop("__cents", "__rn", "__ncl")
        .withColumnRenamed("__n", "group_size")
    )


def pram_randomize(
    df: DataFrame,
    pk_col: str,
    cat_col: str,
    p_keep: float = 0.7,
    seed: str = "pram",
) -> DataFrame:
    """PRAM — the Post-RAndomization Method for categorical data
    (Gouweleeuw et al., JOS 1998; the categorical counterpart of noise
    addition, also shipped in μ-Argus): each non-NULL category is kept with
    probability ``p_keep`` and otherwise replaced by a category drawn
    uniformly from the observed domain. Because misclassification
    probabilities are PUBLIC, analysts can unbias estimates computed on the
    released data — unlike ad-hoc swapping. The reference engine
    (src/Anonymizer.php) only supports deterministic replacement; PRAM is
    the statistical-disclosure-control upgrade.

    Randomness is SEEDED per row (md5(seed, pk) -> two independent u32
    lanes: keep-test and replacement pick), so the release is auditable,
    re-runnable and partitioning-invariant — same properties as
    ``dp_noised_counts``. NULL categories pass through unchanged.

    Returns pk + ``<cat>_orig`` (certification twin; callers drop it for
    release) + ``<cat>_pram``.

    100 TB: the domain is a tiny sorted dim (one distinct aggregate, a few
    rows) broadcast to a map-side join on the picked index; the keep/pick
    lanes are pure codegen expressions. One keyed shuffle for the distinct,
    nothing else."""
    from pyspark.sql import Window

    dom = df.select(F.col(cat_col).alias("__cat")).where(
        F.col("__cat").isNotNull()
    ).distinct()
    # tiny post-distinct dim (#categories rows): the global window is bounded
    # by the domain size, not the table size
    dom = dom.withColumn(
        "__idx", F.row_number().over(Window.orderBy(F.col("__cat").asc())) - 1
    )
    n_cat = dom.count()  # bounded scalar: |domain|
    # NULL-sentinel the pk lane: concat_ws would silently SKIP a NULL pk
    # (colliding every NULL-pk row onto one digest) and the SQL twin's `||`
    # would null the whole key
    digest = F.md5(
        F.concat_ws(
            ":",
            F.lit(seed),
            F.coalesce(F.col(pk_col).cast("string"), F.lit("<NULL>")),
        )
    )
    u_keep = _hex_u32(digest)
    pick = _hex_u32(digest, 9)
    keep = ((u_keep.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)) < F.lit(
        p_keep
    )
    staged = df.withColumn(
        "__pick_idx",
        F.when(keep | F.col(cat_col).isNull(), F.lit(None)).otherwise(
            pick % F.lit(n_cat)
        ),
    )
    out = staged.join(
        F.broadcast(dom), staged["__pick_idx"] == dom["__idx"], "left"
    )
    return out.select(
        *[c for c in df.columns if c != cat_col],
        F.col(cat_col).alias(f"{cat_col}_orig"),
        F.coalesce(F.col("__cat"), F.col(cat_col)).alias(f"{cat_col}_pram"),
    )


def enforce_k_anonymity(
    df: DataFrame,
    quasi_cols: list[str],
    k: int,
    sentinel: str = "*",
) -> DataFrame:
    """The ENFORCEMENT half of the k-anonymity pair (``k_anonymity_audit``
    measures; this repairs): quasi-identifier values of every row whose QI
    group has fewer than ``k`` members are suppressed to ``sentinel``, so
    the released table is k-anonymous by construction (all suppressed rows
    merge into one '*..*' group; if their total is still < k the caller
    widens generalization first — the standard suppress-after-generalize
    ladder, cf. Sweeney 2002).

    Output: every original column except the QI columns, plus one
    ``<col>_out`` string per QI column, the group size, and a
    ``suppressed`` flag. ``group_n`` is the size of the group AS RELEASED:
    suppressed rows report the merged '*'-group total, NOT their original
    sub-k group size — releasing the exact size would partition the merged
    group back into its sub-k equivalence classes (a unique group_n plus
    public QI frequencies re-identifies the suppressed QI values). Two
    degenerate cases make even the merged total a leak (r8 ADVICE):
    (a) exactly ONE sub-k group contributed — the total then equals that
    group's exact size; (b) the merged total is itself < k — the '*' group
    is not a k-member crowd, so its size is below the release bar. In
    both, suppressed rows release ``group_n = NULL`` (size withheld);
    case (b) additionally means the RELEASE is not k-anonymous until the
    caller widens generalization, which the NULL makes visible instead of
    papering over.

    Scale shape: ONE map-side-combinable hash agg on the QI key (the same
    shuffle the audit pays) + a broadcast join back onto the fact table —
    the group table is QI-combination-cardinality, orders of magnitude
    smaller than the data FOR SANE QI SETS. The broadcast has a cliff:
    near-unique quasi-identifier combinations (exactly the k-anonymity
    danger case) make the group dim approach |df| and blow the broadcast;
    the caller widens generalization first. Joins are NULL-SAFE on every QI
    column (NULL is a QI value an attacker can see — it must count toward
    its own group, not silently escape suppression)."""
    # prefix the group-side key columns: groups derives from df, so bare
    # references would be ambiguous in the self-join
    groups = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("long").alias("__grp_n")
    )
    for c in quasi_cols:
        groups = groups.withColumnRenamed(c, f"__g_{c}")
    # merged-'*'-group total: what suppressed rows may release as their
    # group size (1-row scalar gate over the already-small group dim)
    totals = groups.agg(
        F.coalesce(
            F.sum(F.when(F.col("__grp_n") < k, F.col("__grp_n"))), F.lit(0)
        )
        .cast("long")
        .alias("__supp_total"),
        F.coalesce(
            F.sum(F.when(F.col("__grp_n") < k, F.lit(1))), F.lit(0)
        )
        .cast("long")
        .alias("__supp_groups"),
    )
    groups = groups.crossJoin(F.broadcast(totals))
    cond = None
    for c in quasi_cols:
        eq = F.col(c).eqNullSafe(F.col(f"__g_{c}"))
        cond = eq if cond is None else cond & eq
    joined = df.join(F.broadcast(groups), cond, "left")
    suppressed = F.col("__grp_n") < k
    out_cols = [F.col(c) for c in df.columns if c not in quasi_cols]
    for c in quasi_cols:
        out_cols.append(
            F.when(suppressed, F.lit(sentinel))
            .otherwise(F.col(c).cast("string"))
            .alias(f"{c}_out")
        )
    # the merged total is safe to release only when >= 2 sub-k groups
    # contributed (else it IS one group's exact size) AND it is itself a
    # crowd of >= k (else the '*' group's size is below the bar)
    total_releasable = (F.col("__supp_groups") >= 2) & (
        F.col("__supp_total") >= k
    )
    out_cols.append(
        F.when(suppressed & total_releasable, F.col("__supp_total"))
        .when(suppressed, F.lit(None).cast("long"))
        .otherwise(F.col("__grp_n"))
        .alias("group_n")
    )
    out_cols.append(suppressed.alias("suppressed"))
    return joined.select(*out_cols)
