"""Deduplication operators.

Covers the reference's keep-last subset dedup
(food_supply_gap/transformer.py:75 ``drop_duplicates(subset=..., keep='last')``)
plus the large-scale text-dedup family (exact hash, canonical fingerprint,
MinHash-LSH, SimHash, n-gram Jaccard) a training-data pipeline needs.

Scale design: every dedup here is a single shuffle on an explicit key
(hash, band-bucket, or user key). Nothing collects to the driver; pairwise
comparisons only happen inside LSH buckets, never across the full corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F


def dedup_keep_last(df: DataFrame, keys: list[str], order_by: list[str]) -> DataFrame:
    """Keep the LAST row per key under an explicit ordering.

    Spark's ``dropDuplicates`` keeps an arbitrary row per key (partition- and
    scheduling-dependent), so reproducing pandas ``keep='last'`` requires an
    explicit arrival-order column set — SURVEY §7.4 hard-part #1.
    One shuffle on ``keys``; at 100 TB prefer more, smaller partitions via
    ``spark.sql.shuffle.partitions`` and let AQE coalesce.
    """
    w = Window.partitionBy(*keys).orderBy(*[F.desc(c) for c in order_by])
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def dedup_keep_first(df: DataFrame, keys: list[str], order_by: list[str]) -> DataFrame:
    """Keep the FIRST row per key under an explicit ordering."""
    w = Window.partitionBy(*keys).orderBy(*[F.asc(c) for c in order_by])
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


# ---------------------------------------------------------------------------
# Text dedup family (training-data pipeline extensions)
# ---------------------------------------------------------------------------

_WS = r"\s+"


def normalized_text(col: Column) -> Column:
    """Canonical text form: lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), _WS, " "))


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on normalized-text md5: returns (content_hash, keep_id,
    n_copies). Hash-groupBy — one shuffle on the 128-bit hash, no skew
    (cryptographic hash distributes uniformly)."""
    return (
        df.select(F.col(id_col), F.md5(normalized_text(F.col(text_col))).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def fingerprint(col: Column) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted set of
    normalized tokens (key-collision / "fingerprint" method). Catches
    shuffled-word duplicates that exact hashing misses."""
    toks = F.array_distinct(F.split(normalized_text(col), " "))
    return F.md5(F.array_join(F.array_sort(toks), " "))


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingle set of a document (distinct, order-preserving
    construction then dedup). Built from slices of the token array —
    pure JVM expressions, no UDF."""
    toks = F.split(normalized_text(col), " ")
    num = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    idx = F.sequence(F.lit(0), num - F.lit(1))
    gram = lambda i: F.array_join(F.slice(toks, i + F.lit(1), n), " ")  # noqa: E731
    return F.when(num > 0, F.array_distinct(F.transform(idx, gram))).otherwise(
        F.array().cast("array<string>")
    )


def _hash64(col: Column) -> Column:
    """Portable 64-bit-ish hash: first 15 hex digits of md5 as a bigint.
    Engine-agnostic (md5 is standard), unlike Spark's murmur F.hash —
    chosen so DuckDB oracles can reproduce it exactly."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# Fixed affine hash parameters for MinHash permutations (public textbook
# construction: h_i(x) = (a_i * (x mod p) + b_i) mod p, p prime).
# p = 2^31-1 keeps (x mod p) * a < 2^62, inside signed-64 range in BOTH
# Spark (Java long) and DuckDB (BIGINT) — overflow-free cross-engine parity.
MINHASH_P = 2147483647


def _perm_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs derived from a fixed LCG — reproducible
    across runs without RNG at plan-build time."""
    params = []
    state = 0x5DEECE66D
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (MINHASH_P - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MINHASH_P
        params.append((a, b))
    return params


def shingle_hash_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", shingle_n: int = 3
) -> DataFrame:
    """(id, hv: array<bigint>) — 64-bit-hashed shingle sets. The preferred
    shared intermediate: MinHash permutes these longs directly, and exact
    Jaccard intersects long arrays (far cheaper than string arrays, and the
    persisted cache is a fraction of the size). One md5 pass per shingle
    total across all downstream consumers."""
    return df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            F.transform(shingles(F.col(text_col), shingle_n), lambda s: _hash64(s))
        ).alias("hv"),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    precomputed_hashes: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per document: (id, sig: array<bigint>[num_hashes]).

    Shingle -> portable 64-bit hash -> per-permutation min, all as JVM
    expressions over the shingle array (F.transform + F.array_min) — no
    Python in the hot path, no explode/shuffle: signatures are computed
    in a single narrow stage. ``precomputed_hashes`` is a persisted
    ``shingle_hash_sets`` frame shared with other consumers.
    """
    hashed = (
        precomputed_hashes
        if precomputed_hashes is not None
        else shingle_hash_sets(df, text_col, id_col, shingle_n)
    ).select("id", "hv")

    def _perm_fn(a: int, b: int):
        # closure (NOT lambda default-args: extra params change the lambda's
        # arity and break pyspark's higher-order-function binding)
        return lambda h: (h % F.lit(MINHASH_P) * a + b) % F.lit(MINHASH_P)

    mins = [
        F.array_min(F.transform(F.col("hv"), _perm_fn(a, b))).alias(f"mh_{i}")
        for i, (a, b) in enumerate(_perm_params(num_hashes))
    ]
    return hashed.select("id", F.array(*mins).alias("sig"))


def band_keys(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    precomputed_hashes: DataFrame | None = None,
) -> DataFrame:
    """(id, band, band_key) rows — ``bands`` rows per document, band_key =
    '_'-joined row-slice of the MinHash signature. The shared banding stage
    of minhash_lsh_pairs, exposed so the streaming incremental near-dup
    flow can anti-join NEW documents' keys against a corpus band-key state
    table without rebuilding pair logic. A document whose text is too short
    to shingle has an all-NULL signature and an EMPTY band_key ('' after
    null-skipping array_join); callers that need set semantics should
    filter those out (the streaming sink does)."""
    rows = num_hashes // bands
    sig = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_n, precomputed_hashes
    )
    return sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.array_join(
                        F.transform(
                            F.slice("sig", i * rows + 1, rows), lambda x: x.cast("string")
                        ),
                        "_",
                    )
                    for i in range(bands)
                ]
            )
        ).alias("band", "band_key"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    precomputed_hashes: DataFrame | None = None,
    bucket_cap: int | None = 1000,
    observation=None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH over MinHash signatures.

    bands x rows layout (rows = num_hashes // bands); a pair is a candidate
    if any band's row-slice matches exactly. Shuffle is on (band, band_key) —
    bucket sizes are tiny for non-duplicate corpora; ``bucket_cap`` bounds
    the adversarial case (a degenerate corpus where millions of identical
    docs share a band key would otherwise make the within-bucket self-join
    quadratic). A bucket keeps its ``bucket_cap`` lowest ids (deterministic,
    oracle-reproducible via the same ROW_NUMBER construction); overflow rows
    are dropped from candidate generation, and the drop count is recorded as
    an observed metric ``lsh_rows_over_cap`` (pass an ``Observation`` to read
    it after the action; with the default string-name form it lands in the
    query-execution metrics / Spark UI) — bounded, but never silent.
    Exact-duplicate recall is unaffected: the capped bucket's survivors still
    pair with each other, and downstream exact-dedup (d1) catches identical
    text regardless.
    Returns (id_a, id_b) with id_a < id_b, distinct.
    """
    banded = band_keys(
        df, text_col, id_col, num_hashes, bands, shingle_n, precomputed_hashes
    )
    if bucket_cap is not None:
        banded = cap_buckets(
            banded, bucket_cap, ("band", "band_key"), "id",
            observe=(observation or "lsh_bucket_cap", "lsh_rows_over_cap"),
        )
        if observation is None:
            # truncate lineage before the self-join: otherwise BOTH join
            # sides re-execute the shingle->minhash->band->window pipeline
            # (lazy local checkpoint materializes once on first use). A
            # metrics-reading caller keeps the CollectMetrics node inside
            # an ordinary action's subtree instead (a checkpoint
            # materialization would not fire the observation listener), at
            # the cost of both join sides recomputing the banding pipeline.
            banded = banded.localCheckpoint(eager=False)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def bands_for_threshold(num_hashes: int, threshold: float) -> int:
    """Band count whose LSH S-curve midpoint matches a Jaccard threshold.

    With b bands of r = num_hashes/b rows, a pair with similarity s collides
    in >=1 band with prob 1-(1-s^r)^b; the curve's 50% point is ~(1/b)^(1/r).
    Fixed (bands, rows) is a threshold choice, not a corpus-size choice — but
    hardcoding it couples the operator to one dedup policy. This picks the
    divisor of num_hashes whose midpoint is closest to ``threshold``, so
    callers state intent ("near-dup at 0.7 Jaccard") and the layout follows.
    """
    best_b, best_err = 1, float("inf")
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        err = abs((1.0 / b) ** (1.0 / r) - threshold)
        if err < best_err:
            best_b, best_err = b, err
    return best_b


def embedding_neardup_pairs(
    e: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    planes: list[list[float]] | None = None,
    nbits: int | None = None,
    n_rows_estimate: int | None = None,
    target_bucket_rows: int = 128,
    bucket_cap: int = 2000,
    round_to: int = 6,
    observation=None,
) -> DataFrame:
    """Embedding near-duplicate pairs: sign-LSH blocks the corpus into
    2^nbits buckets; exact cosine only within a bucket (sub-quadratic).

    Width policy (100 TB path): when ``planes``/``nbits`` are not given,
    nbits is derived from corpus cardinality via
    ``vectors.nbits_for_corpus`` so expected bucket occupancy stays at
    ``target_bucket_rows`` no matter the scale — pass ``n_rows_estimate``
    (KMV/HLL estimate or table metadata) to avoid the exact count() action.
    ``bucket_cap`` still bounds the adversarial bucket (kept lowest-id rows,
    overflow counted via the observed metric ``emb_rows_over_cap``, never
    silent). Returns (id_a, id_b, cos_sim) with id_a < id_b.

    Exact-duplicate factoring (round 5): cos(v_i, v_j) depends only on the
    vector VALUES, so identical vectors are grouped per bucket and the
    cosine is evaluated once per distinct representative pair, then
    expanded back to id pairs — the standard exact-dedup-before-near-dup
    pipeline ordering (c1), applied inside the operator. The result SET is
    bit-identical to the unfactored pairwise join (same expression, same
    inputs, one eval instead of |copies_a| x |copies_b|), so the DuckDB
    oracle is unchanged. Real corpora carry heavy exact duplication; the
    sf10 headroom run measured the unfactored join at 225 s on 200k
    vectors with 2k distinct (23M interpreted cosine evals) — factoring
    removes the O(copies^2) blow-up entirely (SCALE.md round 5).
    """
    from nyc_open_data_pipeline_spark.functions import vectors as VEC

    if planes is None:
        if nbits is None:
            n = n_rows_estimate if n_rows_estimate is not None else e.count()
            nbits = VEC.nbits_for_corpus(n, target_bucket_rows)
        row = e.select(vec_col).first()
        if row is None:  # empty corpus: no pairs, and no dim to derive from
            return e.sparkSession.createDataFrame(
                [], "id_a long, id_b long, cos_sim double"
            )
        dim = len(row[0])
        planes = VEC.hyperplanes(dim, nbits)
    b = e.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        VEC.norm(F.col(vec_col)).alias("nrm"),
        VEC.hyperplane_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    b = cap_buckets(
        b, bucket_cap, ("bucket",),
        observe=(observation or "emb_bucket_cap", "emb_rows_over_cap"),
    )
    # One representative per distinct vector per bucket (identical vectors
    # always share a bucket — the bucket is a function of v). collect_list
    # order is nondeterministic, but every downstream consumer expands the
    # full id set, so the output is order-independent.
    reps = b.groupBy("bucket", "v").agg(
        F.min("vec_id").alias("rep_id"),
        F.first("nrm").alias("nrm"),
        F.collect_list("vec_id").alias("ids"),
    )
    if observation is None:
        # materialize once: the rep frame feeds both self-join sides and the
        # same-rep expansion (lazy local checkpoint, computed on first use)
        reps = reps.localCheckpoint(eager=False)
    left, right = reps.alias("l"), reps.alias("r")
    cos = F.round(
        VEC.cosine_prenormed(
            F.col("l.v"), F.col("r.v"), F.col("l.nrm"), F.col("r.nrm")
        ),
        round_to,
    )
    # Cross-rep pairs: one cosine per distinct pair, THEN expand to ids —
    # the threshold prunes before the |copies_a| x |copies_b| explode.
    cross = (
        left.join(
            right,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.rep_id") < F.col("r.rep_id")),
        )
        .select(
            F.col("l.ids").alias("ids_a"),
            F.col("r.ids").alias("ids_b"),
            cos.alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select(F.explode("ids_a").alias("ia"), "ids_b", "cos_sim")
        .select("ia", F.explode("ids_b").alias("ib"), "cos_sim")
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "cos_sim",
        )
    )
    # Same-rep pairs (exact copies): cos(v, v) via the SAME expression the
    # unfactored join evaluated between two copies, kept threshold-guarded
    # for exactness rather than assuming 1.0.
    self_cos = F.round(
        VEC.cosine_prenormed(F.col("v"), F.col("v"), F.col("nrm"), F.col("nrm")),
        round_to,
    )
    same = (
        reps.filter(F.size("ids") >= 2)
        .select("ids", self_cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
        .select(F.explode("ids").alias("ia"), "ids", "cos_sim")
        .select("ia", F.explode("ids").alias("ib"), "cos_sim")
        .filter(F.col("ia") < F.col("ib"))
        .select(
            F.col("ia").alias("id_a"), F.col("ib").alias("id_b"), "cos_sim"
        )
    )
    return cross.unionByName(same)


def probe_masks(nbits: int, radius: int) -> list[int]:
    """XOR masks of Hamming weight <= radius over an nbits-bit bucket key
    (Lv et al. multi-probe) — the single source for every probing caller
    (pair self-join AND query->corpus), so the probing policy cannot
    drift between them (round-8 review)."""
    if radius < 0 or radius > 2:
        raise ValueError(f"probe_masks: radius must be 0, 1 or 2 (got {radius})")
    masks = [0]
    if radius >= 1:
        masks += [1 << i for i in range(nbits)]
    if radius >= 2:
        masks += [
            (1 << i) | (1 << j) for i in range(nbits) for j in range(i + 1, nbits)
        ]
    return masks


def cap_buckets(
    b: DataFrame,
    bucket_cap: int,
    buckets: tuple[str, ...] = ("r", "bucket"),
    id_col: str = "vec_id",
    observe: tuple | None = None,
) -> DataFrame:
    """Bucket occupancy cap, the ``bucket_cap`` lowest ``id_col`` values of
    each ``buckets`` key kept — the shared overflow policy of every LSH
    bucketing (MinHash bands, sign-LSH sets, SimHash blocks), mirrored by
    the oracles' QUALIFY row_number. row_number, not a full sort of the
    corpus: one task per bucket, O(B log B) for an oversized bucket
    instead of O(B^2) join output.

    ``observe``: (Observation or metric-group name, metric name) — counts
    the dropped rows as an observed metric, so a binding cap is never
    silent."""
    w = Window.partitionBy(*buckets).orderBy(id_col)
    ranked = b.withColumn("__rn", F.row_number().over(w))
    if observe is not None:
        obs, metric = observe
        ranked = ranked.observe(
            obs, F.sum((F.col("__rn") > bucket_cap).cast("long")).alias(metric)
        )
    return ranked.filter(F.col("__rn") <= bucket_cap).drop("__rn")



def multiprobe_candidate_pairs(
    e: DataFrame,
    planes_sets: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int = 2000,
    radius: int = 0,
) -> DataFrame:
    """Multi-probe sign-LSH candidates: R INDEPENDENT plane sets, each
    bucketing the corpus on its own key; a pair is a candidate if its two
    signatures differ in at most ``radius`` bits of ANY set (radius 0 =
    exact bucket collision). Union over sets, distinct.

    Bit-flip probing (``radius`` > 0, Lv et al. multi-probe) is the
    escape from the set-count cap: one side of the join additionally
    emits its bucket XOR every mask of Hamming weight <= radius, so a
    pair lands together exactly when mask = sig_a XOR sig_b — one-sided
    probing finds every such pair via precisely one mask per set (no
    intra-set double count). The masks are plan LITERALS (1 + nbits +
    C(nbits,2) longs at radius 2), while the expansion itself is DATA
    (explode), so recall bought this way costs candidate-join volume,
    not analyzer/codegen plan size the way more plane sets do.
    ``vectors.multiprobe_design`` derives (R, radius) jointly.

    This is the recall amplifier the width derivation points at
    (vectors.nbits_for_corpus): growing bits keeps buckets small but a
    near-pair must agree on EVERY bit of a set, so single-set recall at
    threshold tau is p(tau)^nbits; with R sets it is 1-(1-p^nbits)^R —
    recall scales with R at constant per-set cost, the d4 MinHash banding
    construction transplanted to embeddings. R itself is derived by
    ``vectors.probes_for_recall`` from (nbits, design threshold, target),
    so recall no longer drifts as the width derivation grows bits.

    Scale shape: ONE narrow scan computes all R bucket ids and posexplodes
    them to (id, set, bucket) rows — a single shuffle and a single
    self-join on (set, bucket) regardless of R, instead of R separate
    join branches (plan size and shuffle count stay O(1) in R; row volume
    is R·n narrow rows, the honest cost of R probes). Per-(set,bucket)
    caps bound adversarial buckets (lowest ids kept, same policy as the
    single-set operator); vectors are NOT carried — the verify stage
    fetches them by id for the distinct candidate set only. Production
    composition: exact-dedup FIRST (c1 cleanroom ordering), so
    copy-explosion never reaches the candidate stage."""
    from nyc_open_data_pipeline_spark.functions import vectors as VEC

    if not planes_sets:
        raise ValueError("multiprobe_candidate_pairs: planes_sets is empty")
    masks = probe_masks(len(planes_sets[0]), radius)
    b = e.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(
            F.array(
                *[
                    VEC.hyperplane_bucket(F.col(vec_col), planes)
                    for planes in planes_sets
                ]
            )
        ).alias("r", "bucket"),
    )
    b = cap_buckets(b, bucket_cap)
    if radius > 0:
        probe = b.select(
            "vec_id",
            "r",
            F.col("bucket").alias("b0"),
            F.explode(VEC.lit_long_array(masks)).alias("mask"),
        ).select(
            "vec_id",
            "r",
            F.col("b0").bitwiseXOR(F.col("mask")).alias("bucket"),
        )
    else:
        probe = b
    return (
        probe.alias("l")
        .join(
            b.alias("r2"),
            (F.col("l.r") == F.col("r2.r"))
            & (F.col("l.bucket") == F.col("r2.bucket"))
            & (F.col("l.vec_id") < F.col("r2.vec_id")),
        )
        .select(
            F.col("l.vec_id").alias("id_a"), F.col("r2.vec_id").alias("id_b")
        )
        .distinct()
    )


def dedup_clusters(
    nodes: DataFrame, pairs: DataFrame, max_iters: int = 20
) -> DataFrame:
    """Connected components over near-duplicate pairs -> (id, cluster_id),
    cluster_id = MIN id in the component. The final step of a dedup
    pipeline: keep one representative per cluster, drop the rest.

    Iterative min-label propagation (small-step Pregel): each round, every
    node takes the min of its own label and its neighbors' labels; converges
    in O(component diameter) rounds — near-dup components are tiny and
    dense, so a handful. Each round ``localCheckpoint``s to truncate the
    growing join lineage (THE failure mode of iterative Spark jobs: an
    unbounded plan that re-executes from the source every round).

    ``nodes``: one column ``id``; ``pairs``: columns ``id_a``, ``id_b``.
    """
    from pyspark.sql import Observation

    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = nodes.select("id", F.col("id").alias("lbl")).localCheckpoint(eager=True)
    for i in range(max_iters):
        msgs = (
            edges.join(labels, edges.src == labels.id)
            .select(F.col("dst").alias("id"), "lbl")
            .groupBy("id")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        # convergence count rides the SAME job as the label materialization
        # (observed metric filled by the eager checkpoint) — one Spark job
        # per round, not two
        obs = Observation(f"cc_round_{i}")
        new_labels = (
            labels.join(msgs, "id", "left")
            .withColumn("new_lbl", F.least(F.col("lbl"), F.coalesce("nbr_lbl", "lbl")))
            .observe(obs, F.sum((F.col("new_lbl") < F.col("lbl")).cast("long")).alias("changed"))
            .select("id", F.col("new_lbl").alias("lbl"))
            .localCheckpoint(eager=True)
        )
        labels = new_labels
        if obs.get["changed"] == 0:
            break
    return labels.select(F.col("id"), F.col("lbl").alias("cluster_id"))


def jaccard_pairs_hashed(hashes: DataFrame, candidate_pairs: DataFrame) -> DataFrame:
    """Exact Jaccard over 64-bit-hashed shingle sets (``shingle_hash_sets``).
    Set-identical to string-shingle Jaccard barring a 2^-60 intra-document
    hash collision; long-array intersects are several times cheaper than
    string-array intersects and the joined payload is much smaller."""
    a = hashes.alias("a")
    b = hashes.alias("b")
    joined = (
        candidate_pairs.join(a, candidate_pairs.id_a == F.col("a.id"))
        .join(b, candidate_pairs.id_b == F.col("b.id"))
        .select("id_a", "id_b", F.col("a.hv").alias("hv_a"), F.col("b.hv").alias("hv_b"))
    )
    inter = F.size(F.array_intersect("hv_a", "hv_b"))
    union = F.size("hv_a") + F.size("hv_b") - inter
    return joined.select(
        "id_a",
        "id_b",
        F.when(union > 0, inter.cast("double") / union.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("jaccard"),
    )


def simhash64(col: Column, token_weight: Column | None = None) -> Column:
    """64-bit SimHash over normalized tokens, as pure JVM expressions.

    For each bit position, sum +1/-1 votes from each distinct token's md5-derived
    bit; the sign forms the fingerprint bit. Near-duplicate docs differ in
    few bits (compare with hamming distance via xor+bit_count).
    """
    toks = F.array_distinct(F.split(normalized_text(col), " "))
    hashed = F.transform(toks, lambda s: _hash64(s))

    # One aggregate with an array<long> accumulator of 63 per-bit vote
    # counters. Writing this as 63 separate F.aggregate folds duplicates the
    # whole token-hash subtree 63x and makes Catalyst spend ~1.4 s PLANNING
    # the query; the array form is a few dozen expression nodes total.
    from nyc_open_data_pipeline_spark.functions import vectors as VEC

    masks = VEC.lit_long_array([1 << i for i in range(63)])
    zero = F.array_repeat(F.lit(0).cast("long"), 63)
    votes = F.aggregate(
        hashed,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a
            + F.when(h.bitwiseAND(m) != 0, F.lit(1).cast("long")).otherwise(
                F.lit(-1).cast("long")
            ),
        ),
    )
    bits = F.zip_with(
        votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, b: acc + b)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints."""
    return F.bit_count(a.bitwiseXOR(b))


def line_dedup(docs: DataFrame, chunk_words: int = 10) -> DataFrame:
    """Global chunk-level dedup, keep-first (C4-style line dedup).

    Splits each document's ``text`` into fixed ``chunk_words``-word chunks,
    elects one keeper per distinct chunk text corpus-wide (min doc_id — a
    deterministic 'first occurrence wins'), and reassembles every document
    from its surviving chunks in original order. Returns one row per doc:
    (doc_id, n_chunks, n_kept, cleaned_md5) where cleaned_md5 hashes the
    reassembled text ('' when nothing survives).

    Plan shape: chunking is array math inside the scan stage (sequence +
    slice + array_join — no explode shuffle); the only exchanges are the
    keeper window on chunk_text and the per-doc rebuild. State per chunk
    key is one min. Used by the d15 query (plans/llmdata.py), where the
    DuckDB oracle mirrors the construction exactly."""
    d = docs.select("doc_id", F.split("text", " ").alias("words"))
    n_chunks = F.ceil(F.size("words") / F.lit(float(chunk_words))).cast("long")
    chunks = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        "words",
    ).select(
        "doc_id",
        "chunk_idx",
        F.array_join(
            F.slice(
                "words",
                (F.col("chunk_idx") * chunk_words + 1).cast("int"),
                chunk_words,
            ),
            " ",
        ).alias("chunk_text"),
    )
    keeper = Window.partitionBy("chunk_text")
    k = chunks.withColumn("kept", F.col("doc_id") == F.min("doc_id").over(keeper))
    kept_struct = F.when(F.col("kept"), F.struct("chunk_idx", "chunk_text"))
    return k.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.count_if("kept").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.chunk_text,
                ),
                " ",
            )
        ).alias("cleaned_md5"),
    )


def cdc_chunk_dedup(docs: DataFrame, boundary_mod: int = 8) -> DataFrame:
    """Content-defined chunking (CDC) dedup, keep-first.

    ``line_dedup``'s fixed-width chunks break on insertion: one added word
    shifts every later boundary and nothing downstream matches. CDC draws
    boundaries from the CONTENT — a chunk ends after any word whose
    portable 64-bit hash % ``boundary_mod`` == 0 (expected chunk length =
    boundary_mod words) — so an edit perturbs only the chunks it touches,
    the property rolling-hash chunkers (rsync/LBFS/Gear) exploit. Keeper
    election and output shape mirror ``line_dedup``:
    (doc_id, n_chunks, n_kept, cleaned_md5).

    Plan shape: posexplode of the word array (map-side expansion), a
    per-doc running sum over (doc_id, pos) to number chunks, a groupBy to
    assemble chunk texts, the keeper window on chunk_text, and the per-doc
    rebuild. Exchanges: doc_id (windows/groups share it) and chunk_text —
    same two-shuffle budget as line_dedup plus the word explode, which at
    100 TB argues for applying CDC after a cheap doc-level prefilter."""
    w = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )
    is_b = (_hash64(F.col("word")) % boundary_mod == 0).cast("long")
    wseq = Window.partitionBy("doc_id").orderBy("pos")
    words = w.withColumn(
        "chunk_idx",
        F.sum(is_b).over(wseq.rowsBetween(Window.unboundedPreceding, 0)) - is_b,
    )
    chunks = words.groupBy("doc_id", "chunk_idx").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s.word,
            ),
            " ",
        ).alias("chunk_text")
    )
    keeper = Window.partitionBy("chunk_text")
    k = chunks.withColumn("kept", F.col("doc_id") == F.min("doc_id").over(keeper))
    kept_struct = F.when(F.col("kept"), F.struct("chunk_idx", "chunk_text"))
    return k.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.count_if("kept").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.chunk_text,
                ),
                " ",
            )
        ).alias("cleaned_md5"),
    )


def boilerplate_strip(
    docs: DataFrame,
    chunk_words: int = 10,
    df_num: int = 1,
    df_den: int = 20,
) -> DataFrame:
    """Per-source boilerplate removal (CCNet/RefinedWeb-style template strip).

    A fixed ``chunk_words``-word chunk is boilerplate WITHIN ITS SOURCE when
    it appears in at least ``df_num/df_den`` of that source's documents —
    the header/footer/nav-bar signature of templated crawl data, which
    whole-document dedup (d1) and global keep-first chunk dedup (d15) both
    miss: boilerplate should be removed from EVERY document, keeper
    included. Returns one row per doc:
    (doc_id, n_chunks, n_boiler, cleaned_md5) where cleaned_md5 hashes the
    document reassembled from its non-boilerplate chunks ('' when nothing
    survives).

    The threshold compares integers (chunk_df * df_den >= source_docs *
    df_num) so both engines decide borderline chunks identically with no
    float in the predicate, and the fraction is scale-invariant: replicating
    a corpus N-fold multiplies chunk df and source size alike.

    Plan shape: chunking is array math in the scan stage (sequence + slice +
    array_join, as line_dedup); the per-source doc counts collapse to
    |sources| rows and broadcast; the chunk document-frequency table groups
    the distinct (source, chunk_text, doc_id) triples and joins back on
    (source, chunk_text) — a plain shuffle join on the same key the df
    aggregation just hashed on. At 100 TB that one chunk-key exchange is the
    whole cost; state per key is one count."""
    flagged = _boilerplate_flagged(docs, chunk_words, df_num, df_den)
    kept_struct = F.when(~F.col("boiler"), F.struct("chunk_idx", "chunk_text"))
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.count_if("boiler").alias("n_boiler"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.chunk_text,
                ),
                " ",
            )
        ).alias("cleaned_md5"),
    )


def _boilerplate_flagged(
    docs: DataFrame, chunk_words: int, df_num: int, df_den: int
) -> DataFrame:
    """(doc_id, source, chunk_idx, chunk_text, boiler) — the shared chunking
    + per-source document-frequency stage of the boilerplate family."""
    d = docs.select("doc_id", "source", F.split("text", " ").alias("words"))
    n_chunks = F.ceil(F.size("words") / F.lit(float(chunk_words))).cast("long")
    chunks = d.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        "words",
    ).select(
        "doc_id",
        "source",
        "chunk_idx",
        F.array_join(
            F.slice(
                "words",
                (F.col("chunk_idx") * chunk_words + 1).cast("int"),
                chunk_words,
            ),
            " ",
        ).alias("chunk_text"),
    )
    src_docs = docs.groupBy("source").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    chunk_df = (
        chunks.select("source", "chunk_text", "doc_id")
        .distinct()
        .groupBy("source", "chunk_text")
        .agg(F.count("*").alias("df"))
    )
    return (
        chunks.join(chunk_df, ["source", "chunk_text"])
        .join(F.broadcast(src_docs), "source")
        .withColumn(
            "boiler",
            F.col("df") * F.lit(df_den) >= F.col("n_docs") * F.lit(df_num),
        )
    )


def boilerplate_cleaned_text(
    docs: DataFrame,
    chunk_words: int = 10,
    df_num: int = 1,
    df_den: int = 20,
) -> DataFrame:
    """(doc_id, cleaned) — each document reassembled from its
    non-boilerplate chunks in chunk order ('' when nothing survives).
    boilerplate_strip's cleaned_md5 hashes exactly this string; the
    cleanroom composition (c5) needs the text itself to feed downstream
    gates, so the reassembly is exposed as its own operator."""
    flagged = _boilerplate_flagged(docs, chunk_words, df_num, df_den)
    kept_struct = F.when(~F.col("boiler"), F.struct("chunk_idx", "chunk_text"))
    return flagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s.chunk_text,
            ),
            " ",
        ).alias("cleaned")
    )


# rounds whose superseded edge set exceeds this trigger a GC nudge so the
# ContextCleaner retires their shuffle files promptly. The threshold is
# sized to where accumulated per-round shuffle spill actually threatens
# single-box disk (~100 M-edge rounds spill GBs each): below it, the
# explicit unpersist already bounds storage blocks and a full GC per
# round on a large heap just adds seconds — measured +14 s at sf10
# (10 M edges) when the nudge fired every round.
_GC_NUDGE_EDGES = 50_000_000

# Rounds whose biggest star (max per-node group in the SYMMETRIC edge
# view) stays under this take the window attach; above it they fall back
# to the AQE-skew-splittable join attach (see star_components). Sized to
# a comfortably single-task window sort: 4 M (long, long) rows ~ 64 MB
# unsafe-row payload, well inside one task's sort budget, while a giant
# component at fact scale (tens of millions of members) would OOM or
# straggle a single-task window.
_WINDOW_ATTACH_MAX_GROUP = 4_000_000

# Observability hooks: star_components resets these at call start and
# appends each round's attach decision (True = window, False = join) and
# the round's EXECUTED adaptive plan string. Tests pin the adaptive
# routing and the AQE skew-split through them; production code must not
# read them (process-global, last-call-wins).
_LAST_ATTACH_MODES: list[bool] = []
_LAST_ATTACH_PLANS: list[str] = []


def star_components(
    nodes: DataFrame, pairs: DataFrame, max_iters: int = 50
) -> DataFrame:
    """Connected components via ALTERNATING LARGE-STAR / SMALL-STAR
    contraction (Kiveris et al. 2014, "Connected Components in MapReduce
    and Beyond") -> (id, cluster_id), cluster_id = MIN id in the
    component — ``dedup_clusters``' contract, with the round count
    O(log^2 n) INDEPENDENT of graph diameter. Label propagation
    (dedup_clusters) converges in O(diameter) rounds: right for the tiny
    dense near-dup clusters it serves, hopeless for chain-shaped graphs
    (sessions, citation paths, linked records) whose diameter grows with
    the corpus. Star contraction hangs every node directly off its
    component minimum in a logarithmic number of alternations.

    Edges are kept canonical (hi > lo), distinct, self-loop-free:

    - large-star: group BOTH orientations by u, m = min(N(u) ∪ {u});
      every strictly-larger neighbor re-attaches to m -> (v, m).
    - small-star: group by hi, m = min(N(hi)); hi and every other
      smaller neighbor re-attach to m.

    Both phases are one hash aggregation + one equi-join back — two
    shuffles per phase on narrow (long, long) rows, partial-agg
    friendly. Each round ``localCheckpoint``s (the iterative-lineage
    rule) and convergence is an EXACT multiset check (counts equal +
    exceptAll empty) on the canonical edge set, not a heuristic.

    SCRATCH RETIREMENT (round 9 — the gr1/gr2 disk-light discipline):
    the superseded round's checkpoint blocks are freed as soon as the
    convergence check has consumed them — via the LogicalRDD's own RDD
    (``session.retire_local_checkpoint``; a plain DataFrame.unpersist
    is a cache-manager no-op on checkpointed frames), and on fact-scale
    graphs (edge count above ``_GC_NUDGE_EDGES``) a GC nudge lets the
    ContextCleaner retire the round's shuffle files before round k+2.
    Without this every round's full edge set stayed live — ~13 rounds
    x fact-scale blocks was the sf100 storage wall (979.9 s, a 15x
    decade, SCALE.md round 8); with it, live scratch is O(one round)
    exactly as in gr1/gr2's measured ~linear sf100 modes. Output is
    bit-identical: retirement only drops blocks that are re-computable
    from lineage and never referenced again.

    ``nodes``: one column ``id``; ``pairs``: columns ``id_a``, ``id_b``.
    """

    # Each phase attaches the star center m to every row. Two physical
    # strategies (round 9, refined by the round-9 review):
    #
    # - WINDOW attach: min-over-partition computes and attaches m inside
    #   the single exchange that grouped the rows — one fact-scale
    #   exchange per phase instead of three (agg exchange, fact-side
    #   join re-exchange, dim side). This is what moved the sf100 wall
    #   (scratch retirement alone did not: 979.9 -> 1008 s). Its cost:
    #   a window partition cannot be split, so one giant star (a
    #   component minimum's group) serializes into one task.
    # - JOIN attach (the pre-round-9 shape): groupBy partial-agg (always
    #   skew-safe) + join-back whose own exchange AQE's skew-join CAN
    #   split across tasks — PROVIDED m is checkpointed first:
    #   OptimizeSkewedJoin only matches a join over two bare shuffle
    #   stages, so with m's agg inline the rule never fired and the
    #   giant star still serialized into one join task (round-11 fix;
    #   pinned by test_star_components_join_attach_is_aqe_skew_splittable).
    #
    # The choice is ADAPTIVE per round, measured for FREE via
    # df.observe (round 10): a dedicated per-round stats job cost ~30%
    # at sf10 (45.3 vs 34.9 s warm), so instead each round's checkpoint
    # job itself collects (a) the fixpoint fingerprint — CollectMetrics
    # on the post-distinct plan — and (b) the round's max star size: the
    # large-star window/agg already groups the symmetric view by u, so a
    # count over the same frame costs one column, and max(count) is a
    # global metric. Small-star needs no observe: its hi=v group has one
    # row per neighbor u < v, so |group| <= deg(v) <= the large-star max
    # of the SAME round. Routing therefore LAGS one round (round k runs
    # with round k-1's measured max; the seed max is an exact one-off
    # sym groupBy on the input): a star that explodes past the threshold
    # mid-round still finishes — a window partition sorts via
    # UnsafeExternalSorter, which SPILLS rather than OOMs — and the next
    # round flips to the AQE-skew-splittable join. Rounds whose biggest
    # group is comfortably single-task (< _WINDOW_ATTACH_MAX_GROUP rows)
    # take the window fast path; the fixture (bounded chains) stays on
    # it every round; a one-giant-component dedup graph degrades
    # gracefully instead of serializing every round into one task.
    #
    # The large-star distinct is dropped outright: its output is exactly
    # one row per input edge (sym filtered to v > u), so duplicates are
    # bounded by E and the small-star terminal distinct removes them.

    def large_star(
        e: DataFrame, windowed: bool, obs: "Observation", scratch: list
    ) -> DataFrame:
        sym = e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
            e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        if windowed:
            w = Window.partitionBy("u")
            # min and count share the window frame: one pass, no second
            # exchange — the group-size measure rides the attach itself
            att = sym.withColumn(
                "m", F.least(F.min("v").over(w), F.col("u"))
            ).withColumn("gc", F.count("*").over(w))
        else:
            m = (
                sym.groupBy("u")
                .agg(F.min("v").alias("mn"), F.count("*").alias("gc"))
                .select("u", F.least("mn", F.col("u")).alias("m"), "gc")
                # CHECKPOINTED, and not only for lineage: AQE's
                # OptimizeSkewedJoin pattern-matches a join whose BOTH
                # inputs are bare shuffle stages. Inline, m's partial-agg
                # pipeline sits between its exchange and the join, the
                # rule never fires, and the giant star's sym partition
                # serializes into ONE task anyway — i.e. the whole
                # "AQE-skew-splittable join attach" rationale was
                # structurally void (measured round 11: skew=true appears
                # in the executed plan ONLY with m materialized; see
                # scripts/gr3_join_witness.py). Lazy: materializes inside
                # the round's own checkpoint job, no extra job.
                .localCheckpoint(eager=False)
            )
            scratch.append(m)
            att = sym.join(m, "u")
        att = att.observe(obs, F.coalesce(F.max("gc"), F.lit(0)).alias("mg"))
        return (
            att.filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
        )

    def small_star(e: DataFrame, windowed: bool, scratch: list) -> DataFrame:
        if windowed:
            w = Window.partitionBy("hi")
            base = e.withColumn("m", F.min("lo").over(w))
        else:
            # same shuffle-stage-boundary requirement as large_star's m
            m = (
                e.groupBy("hi")
                .agg(F.min("lo").alias("m"))
                .localCheckpoint(eager=False)
            )
            scratch.append(m)
            base = e.join(m, "hi")
        others = base.filter(F.col("lo") != F.col("m")).select(
            F.col("lo").alias("hi"), F.col("m").alias("lo")
        )
        centers = base.select("hi", F.col("m").alias("lo"))
        return others.union(centers).distinct()

    # The fixpoint fingerprint is an order-independent SET fingerprint
    # (count, XOR of per-row xxhash64) over the canonical distinct edge
    # set: a MISMATCH proves the round changed the edge set, so the
    # exact exceptAll comparison is skipped — on star graphs the edge
    # COUNT is constant every round (one (node, center) row per non-root
    # node), so gating on count alone ran the two-exchange exceptAll
    # every round (~25% of round cost at sf10). A match is only a hint:
    # exceptAll below remains the exact arbiter, so a collision costs
    # one wasted comparison, never a wrong fixpoint. XOR (not SUM) keeps
    # the fold exact under ANSI mode — summing full-range xxhash64
    # values overflows LongType (round-9 review).
    _FP_METRICS = (
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("hi", "lo")), F.lit(0)).alias("h"),
    )

    def _seed_stats(e: DataFrame) -> tuple[tuple[int, int], int]:
        # Once per call: the round-0 routing decision needs the max star
        # size BEFORE any round has run, and the fingerprint needs a
        # canonical-set baseline. Max group is measured on the SYMMETRIC
        # view, not the canonical (hi, lo) frame: large_star windows over
        # sym's u-groups, and a giant star centered at a component
        # minimum m puts ALL its edges in m's lo column — hi-groups of
        # size 1, one sym u-group of size E (round-9 review).
        row = e.agg(*_FP_METRICS).collect()[0]
        sym = e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
            e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        mg = (
            sym.groupBy("u")
            .agg(F.count("*").alias("c"))
            .agg(F.coalesce(F.max("c"), F.lit(0)).alias("mg"))
            .collect()[0]["mg"]
        )
        return (int(row["n"]), int(row["h"])), int(mg)

    edges = (
        pairs.filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.greatest("id_a", "id_b").alias("hi"),
            F.least("id_a", "id_b").alias("lo"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_fp, max_group = _seed_stats(edges)
    _LAST_ATTACH_MODES.clear()
    _LAST_ATTACH_PLANS.clear()
    if prev_fp[0] == 0:
        # no edges: every node is its own component. Also load-bearing
        # for the observe path below — AQE's empty-relation propagation
        # ELIMINATES CollectMetrics nodes from an all-empty plan, so
        # Observation.get would raise. Only the input can be empty: a
        # nonempty edge set yields a nonempty round (sym keeps the v > u
        # orientation of every edge, so large_star emits >= E rows and
        # small_star >= 1 row per group), so no mid-loop guard is needed.
        return nodes.select("id", F.col("id").alias("cluster_id"))
    converged = False
    for _ in range(max_iters):
        windowed = max_group < _WINDOW_ATTACH_MAX_GROUP
        _LAST_ATTACH_MODES.append(windowed)
        o_ls, o_fp = Observation(), Observation()
        scratch: list = []  # join-mode m checkpoints, retired with the round
        plan = small_star(
            large_star(edges, windowed, o_ls, scratch), windowed, scratch
        )
        obs_df = plan.observe(o_fp, *_FP_METRICS)
        nxt = obs_df.localCheckpoint(eager=True)
        # both observations resolved by the checkpoint job — zero extra jobs
        if not windowed:
            # debug hook (tests/witness), JOIN rounds only — the skew
            # split is only decidable there, and the py4j plan-string
            # transfer would tax every window round for nothing. The
            # round's EXECUTED adaptive plan: localCheckpoint ran
            # obs_df's own QueryExecution, so AQE decisions (skew=true
            # splits) are visible.
            try:
                _LAST_ATTACH_PLANS.append(
                    obs_df._jdf.queryExecution().executedPlan().toString()
                )
            except Exception:
                pass
        fp = (int(o_fp.get["n"]), int(o_fp.get["h"]))
        max_group = int(o_ls.get["mg"])
        done = fp == prev_fp and nxt.exceptAll(edges).isEmpty()
        # the convergence check was the last reader of the old round:
        # retire its checkpoint blocks now (through the LogicalRDD — a
        # plain DataFrame.unpersist() is a cache-manager no-op on
        # checkpointed frames, ADVICE r11), and on fact-scale rounds
        # nudge GC so the ContextCleaner drops the round's shuffle files
        from nyc_open_data_pipeline_spark.session import retire_local_checkpoint

        retire_local_checkpoint(edges)
        for s_ in scratch:
            retire_local_checkpoint(s_)
        if prev_fp[0] > _GC_NUDGE_EDGES:
            try:
                # resolved lazily INSIDE the guard: on Spark Connect even
                # .sparkContext raises (PySparkNotImplementedError), so an
                # eager access outside try/except would fail the whole
                # operator before any round ran (ADVICE r10)
                edges.sparkSession.sparkContext._jvm.System.gc()
            except Exception:
                pass  # Spark Connect: no JVM gateway — nudge is best-effort
        edges, prev_fp = nxt, fp
        if done:
            converged = True
            break
    if not converged:
        # mid-contraction edges can hold several (hi, lo) rows per node —
        # labeling from them would emit duplicate rows with non-min
        # labels SILENTLY (round-8 review); fail loudly instead
        raise RuntimeError(
            f"star_components: no fixpoint within {max_iters} alternations "
            "— raise max_iters (rounds are O(log^2 n); this graph should "
            "not need more than ~40)"
        )
    stars = edges.select(F.col("hi").alias("id"), F.col("lo").alias("cluster_id"))
    return nodes.join(stars, "id", "left").select(
        "id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id")
    )


def token_gram_rows(
    df: DataFrame, n: int = 10, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, p, g): 1-based token position and portable md5-64 gram key
    for every n-token window of the normalized text — the shared gram
    build of d26 (batch substring dedup) and st12 (its streaming twin).
    Pure array math on the loaded row until the 8-byte hash exists; the
    explode emits narrow (long, long, long) rows."""
    from nyc_open_data_pipeline_spark.functions import text as TXT

    tk = df.select(
        F.col(id_col).alias("doc_id"), TXT.tokens(F.col(text_col)).alias("tk")
    )
    return tk.select(
        "doc_id",
        F.posexplode(
            F.when(
                F.size("tk") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("tk") - n + 1),
                    lambda i: F.array_join(F.slice("tk", i, n), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("p0", "gram"),
    ).select(
        "doc_id",
        (F.col("p0") + 1).cast("long").alias("p"),
        _hash64(F.col("gram")).alias("g"),
    )


def maximal_spans(hits: DataFrame, n: int) -> DataFrame:
    """Gaps-and-islands assembly: duplicated window positions (doc_id, p)
    -> maximal spans (doc_id, start_pos, end_pos, span_len). One window
    per doc_id."""
    w = Window.partitionBy("doc_id").orderBy("p")
    isl = hits.withColumn("grp", F.col("p") - F.row_number().over(w))
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.min("p").cast("long").alias("start_pos"),
            (F.max("p") + F.lit(n) - 1).cast("long").alias("end_pos"),
            (F.max("p") - F.min("p") + F.lit(n)).cast("long").alias("span_len"),
        )
        .select("doc_id", "start_pos", "end_pos", "span_len")
    )
