"""Corpus deduplication — the training-data-pipeline operator family.

All variants are shuffle-conscious:

- exact:      one groupBy on a content hash — the only full shuffle, and
              it's on a 128-bit key (no skew; salting unnecessary).
- minhash:    per-row signature (zero shuffle) → band keys → ONE groupBy
              on (band, key) emits pairs per bucket. At 100 TB the only
              shuffle is bucket-sized; the full cross product never
              materializes.
- simhash:    per-row fingerprint (single aggregate over the token
              array, zero shuffle); duplicates share a fingerprint.
- ngram jaccard: per-row array_intersect over candidate pairs only.
- exact substring: stride-1 k-token window hashes → one partial-agg
              shuffle marks non-canonical occurrences → per-doc
              gaps-and-islands merge into maximal duplicated spans
              (ExactSubstr, Lee et al. 2022); apply cuts the spans out,
              keeping the corpus-order first copy.
- embedding:  cosine over LSH/band-bucketed candidates (or brute force
              below a size threshold).
- semantic:   SemDeDup (Abbas et al. 2023) — k-means cells scope the
              pair search (semantic_duplicates), components + the
              paper's low-centroid-sim survivor close the loop
              (semdedup_apply), and new batches admit against the kept
              corpus under frozen centroids (semdedup_incremental /
              streaming.dedup.streaming_semantic_dedup).

Hashes are md5-based (functions/hashing.py) → reproducible across
engines and runs; no Python UDFs anywhere.

Plan-shape invariant (load-bearing for performance): token / shingle /
digest arrays are materialized as their own projection step before any
expression that references them repeatedly. Catalyst's CollapseProject
keeps a non-cheap expression referenced more than once in its own
Project, so the regex tokenizer runs ONCE per row; inlining it into a
``transform``/``element_at`` lambda would re-run it per array element
(observed 30×+ slowdowns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from customkb_spark.functions import hashing as H
from customkb_spark.functions import text as X
from customkb_spark.functions import vector as V


# Explicit whitespace class: Java's \s includes \x0B but RE2's (DuckDB)
# does not — the oracle-mirrored content hash must use the same set of
# characters in both engines.
WHITESPACE_RE = "[ \\t\\n\\x0B\\f\\r]+"


def content_hash(text_col) -> "F.Column":
    """Canonical whitespace-collapsed md5 of a text column — THE dedup
    identity; every exact-dedup path (and its SQL oracle) must use this
    one definition."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.md5(F.regexp_replace(c, WHITESPACE_RE, " "))


def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical (post-normalization) documents.

    Returns (text_hash, n_dups, canonical_id, dup_ids) for groups with
    more than one member. Normalization = collapse whitespace.
    """
    normed = content_hash(text_col)
    return (
        docs.select(F.col(id_col).alias("id"), normed.alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("id").alias("canonical_id"),
            F.array_sort(F.collect_list("id")).alias("dup_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def shingle_sets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """(id, shingles) with the token array materialized in its own
    projection so the regex tokenizer runs once per row (see module
    docstring)."""
    toks = docs.select(F.col(id_col).alias("id"), X.tokens(text_col).alias("toks"))
    return toks.select("id", H.shingles(F.col("toks"), shingle_n).alias("shingles"))


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_n: int = 3,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """(id, mh0..mh{K-1}) over a codegen'd exploded-shingle projection
    with a map-side-partial min aggregate — the exchange carries ~one
    row per doc (never the shingle stream), so at 100 TB the stage
    still scales with scan bandwidth.

    ONE md5 per shingle → int x, then k linear permutations
    (a_k·x + b_k) mod P (functions/hashing.py): the digest cost is
    amortized over the whole family — 16× less hashing than a
    salted-digest family, pure int64 arithmetic after the digest.
    (min over the shingle multiset ≡ min over the distinct shingle set.)
    Pass ``shingles_df`` (from shingle_sets) to reuse an
    already-computed/persisted shingle table. Requires unique ids
    (every caller feeds doc-keyed frames)."""
    # r9: the digest + permutation family runs over EXPLODED shingle
    # rows, not inside transform() lambdas — higher-order functions are
    # CodegenFallback (interpreted, ~17 expression evals per shingle
    # here), which made the signature stage scan-CPU-bound (sf10
    # pipeline stage 143 s; the exploded projection whole-stage-
    # codegens). The groupBy(id) min aggregates PARTIALLY map-side —
    # a doc's shingles live in one exploded run, so the exchange
    # carries ~one row per doc, never the shingle stream. min over the
    # exploded multiset ≡ array_min over the array (exact int64
    # arithmetic), and explode_outer keeps NULL/empty shingle arrays
    # as NULL signatures exactly like transform/array_min did.
    params = H.minhash_perm_params(num_hashes)
    if shingles_df is not None:
        ex = shingles_df.select("id", F.explode_outer("shingles").alias("_s"))
        ex = ex.select("id", H.shingle_to_int(F.col("_s")).alias("_x"))
    else:
        # r9b: the shingle STRING is also built on the exploded rows —
        # H.shingles' transform() lambda (3 element_at + concat_ws per
        # shingle, interpreted) was ~40% of the signature wall at sf10.
        # Exploding a when-guarded index sequence instead keeps every
        # expression codegen-capable: per shingle row the n element_at
        # + concat_ws + digest + permutations all run in one
        # whole-stage-codegen span. Index -1 marks the short/empty/NULL
        # fallback (< n tokens → ONE whole-text shingle, exactly
        # H.shingles' otherwise branch — concat_ws(' ', NULL) = '' ∘
        # explode_outer keeps the row either way). Shingle strings are
        # byte-identical to H.shingles by construction (same element_at
        # offsets, same separator), pinned by
        # test_minhash_signatures_match_hof_reference.
        toks = docs.select(
            F.col(id_col).alias("id"), X.tokens(text_col).alias("_t")
        )
        idx = F.when(
            F.size("_t") >= shingle_n,
            F.sequence(F.lit(0), F.size("_t") - shingle_n),
        ).otherwise(F.array(F.lit(-1)))
        ex = toks.select("id", "_t", F.explode_outer(idx).alias("_i"))
        shingle = F.when(
            F.col("_i") >= 0,
            F.concat_ws(
                " ",
                *[
                    F.element_at("_t", (F.col("_i") + j + 1).cast("int"))
                    for j in range(shingle_n)
                ],
            ),
        ).otherwise(F.concat_ws(" ", F.col("_t")))
        ex = ex.select("id", H.shingle_to_int(shingle).alias("_x"))
    return ex.groupBy("id").agg(
        *[
            F.min((F.lit(a) * F.col("_x") + F.lit(b)) % H.MINHASH_PRIME).alias(
                f"mh{k}"
            )
            for k, (a, b) in enumerate(params)
        ]
    )


def minhash_band_buckets(
    signatures: DataFrame, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """(id, band, band_key): concatenate each band's rows into an LSH
    bucket key. Docs sharing any (band, band_key) are candidates."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [
            F.col(f"mh{b * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)
        ]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.concat_ws("|", *parts).alias("band_key"))
        )
    return signatures.select(
        "id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


def minhash_candidate_pairs(
    buckets: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from shared LSH buckets.

    ONE groupBy on (band, band_key) collects each bucket's members, then
    pairs are generated per-row from the sorted member array — no self
    join, so the upstream signature computation runs once, not twice.
    Mega-buckets (boilerplate shingles) are the skew/blowup risk at
    scale: pass ``max_bucket_size`` to drop buckets with more members —
    they're near-identical boilerplate and quadratic in pair count.
    """
    members = (
        buckets.groupBy("band", "band_key")
        .agg(F.array_sort(F.collect_set("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        members = members.filter(F.size("ids") <= max_bucket_size)
    # all (i < j) combinations of the sorted member array, per row
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        members.select(F.explode(pairs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def jaccard_verify(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard over candidate pairs only.

    Joins each pair to its two (distinct-)shingle arrays and computes
    |A∩B| per row with ``array_intersect`` — two hash joins keyed on id,
    no explode, no shingle-level shuffle. The candidate join already
    restricts work to bucket collisions; per-pair set intersection is
    linear in document length.
    """
    base = shingles_df if shingles_df is not None else shingle_sets(
        docs, id_col, text_col, shingle_n
    )
    sh = base.select("id", F.array_distinct("shingles").alias("sh_set"))
    a = sh.select(F.col("id").alias("id_a"), F.col("sh_set").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh_set").alias("sh_b"))
    j = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")),
                6,
            ),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def tune_lsh_bands(
    threshold: float,
    num_hashes: int,
    fn_weight: float = 1.0,
) -> tuple[int, int]:
    """Pick the LSH banding ``(bands, rows_per_band)`` for a target
    Jaccard ``threshold`` — the S-curve optimization from Mining of
    Massive Datasets ch. 3 (Leskovec/Rajaraman/Ullman; the same
    planner datasketch ships as ``_optimal_param``).

    For b bands of r rows, a pair with Jaccard s collides with
    probability ``1 − (1 − s^r)^b``. The planner scores every
    divisor split of ``num_hashes`` by the integrated false-positive
    area below the threshold plus ``fn_weight`` × the false-negative
    area above it, and returns the minimizer. ``fn_weight > 1`` biases
    toward recall (dedup usually wants that: a missed duplicate ships
    twice; a false candidate only costs a Jaccard verify).

    Driver-side arithmetic over ≤ num_hashes splits — use it to choose
    the ``bands`` argument of ``minhash_lsh_duplicates`` instead of
    hand-picking.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if num_hashes < 2:
        raise ValueError(f"num_hashes must be >= 2, got {num_hashes}")
    steps = 1000
    best: tuple[float, int, int] | None = None
    for b in range(1, num_hashes + 1):
        if num_hashes % b:
            continue
        r = num_hashes // b
        fp = fn = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            p = 1.0 - (1.0 - s**r) ** b
            if s < threshold:
                fp += p / steps
            else:
                fn += (1.0 - p) / steps
        score = fp + fn_weight * fn
        if best is None or score < best[0]:
            best = (score, b, r)
    assert best is not None
    return best[1], best[2]


def minhash_lsh_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    stats: dict | None = None,
) -> DataFrame:
    """End-to-end MinHash→LSH→Jaccard-verify near-dup pairs.

    The shingle projection is recomputed per branch (scan-fused, cheap)
    rather than cached: measured, in-memory caching of the wide shingle
    arrays costs more than the recompute because it breaks whole-stage
    codegen fusion with the scan. At 100 TB, write shingle_sets() to a
    table between the two jobs instead and pass it via ``shingles_df``.

    ``stats`` (VERDICT r8 #2): pass a dict to receive the run's PAIR
    MASS — ``max_bucket`` (largest (band, band_key) bucket),
    ``candidate_pairs``, ``verified_pairs`` — so a wall-time swing on
    the biggest dedup shuffle is decidable from artifacts (pair-mass
    growth vs box regime). The stats path materializes the narrow
    bucket/pair frames it counts (localCheckpoint), so the extra aggs
    never recompute the signature scan."""
    sigs = minhash_signatures(docs, id_col, text_col, num_hashes, shingle_n)
    bb = minhash_band_buckets(sigs, num_hashes, bands)
    if stats is None:
        cands = minhash_candidate_pairs(bb)
        return jaccard_verify(docs, cands, id_col, text_col, shingle_n, threshold)
    bb = bb.localCheckpoint()
    stats["max_bucket"] = int(
        bb.groupBy("band", "band_key").count().agg(F.max("count")).first()[0] or 0
    )
    cands = minhash_candidate_pairs(bb).localCheckpoint()
    stats["candidate_pairs"] = cands.count()
    verified = jaccard_verify(
        docs, cands, id_col, text_col, shingle_n, threshold
    ).localCheckpoint()
    stats["verified_pairs"] = verified.count()
    return verified


def simhash_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16
) -> DataFrame:
    """(id, simhash) — per-token ±1 bit votes summed per document, sign
    → bit. Documents with equal fingerprints are near-dup candidates.

    The whole fingerprint is a per-row expression: md5 each unique token
    ONCE, then a single aggregate pass updates all ``bits`` counters via
    zip_with — no explode, no shuffle, map-side at any scale."""
    toks = docs.select(
        F.col(id_col).alias("id"),
        X.unique_tokens(text_col, ordered=False).alias("toks"),
    )
    dig = toks.select("id", F.transform("toks", lambda t: F.md5(t)).alias("digests"))

    positions = F.sequence(F.lit(1), F.lit(bits))

    def step(acc, h):
        return F.zip_with(
            acc,
            positions,
            lambda a, i: a
            + F.when(
                F.instr(F.lit("0123456789abcdef"), F.substring(h, i, F.lit(1))) - 1 >= 8,
                F.lit(1),
            ).otherwise(F.lit(-1)),
        )

    sums = F.aggregate(F.col("digests"), F.array_repeat(F.lit(0), bits), step)
    fingerprint = F.array_join(
        F.transform(sums, lambda s: F.when(s >= 0, F.lit("1")).otherwise(F.lit("0"))),
        "",
    )
    return dig.select("id", fingerprint.alias("simhash"))


def embedding_near_duplicates(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bucket_col: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold.

    With ``bucket_col`` (e.g. an IVF cluster id or LSH band) the self
    join is restricted to same-bucket pairs — the scale path. Without
    it, a brute-force self join (correctness oracle; quadratic — only
    for bounded inputs).
    """
    e = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        *( [F.col(bucket_col).alias("bucket")] if bucket_col else [] ),
    )
    # pre-normed cosine (r9): one norm per ROW bound before the self
    # join (both aliases inherit it) instead of two norm folds per
    # PAIR — bit-identical (same arithmetic DAG, a.norm then b.norm)
    e = e.withColumn("_nv", V.norm(F.col("vec")))
    a, b = e.alias("a"), e.alias("b")
    cond = F.col("a.id") < F.col("b.id")
    if bucket_col:
        cond = cond & (F.col("a.bucket") == F.col("b.bucket"))
    sim = V.dot(F.col("a.vec"), F.col("b.vec")) / (
        F.col("a._nv") * F.col("b._nv")
    )
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(sim, 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Duplicate-cluster resolution: connected components over near-dup
    pairs — the transitive-closure step after any pair-producing dedup
    (MinHash/SimHash/embedding): if A≈B and B≈C, all three are one
    cluster even when A≉C directly. Returns ``(id, cluster_id)`` where
    ``cluster_id`` = the minimum member id (canonical representative,
    the "keep" doc under keep-first policy).

    Algorithm: min-label propagation — each round every node takes the
    min of its own label and its neighbors' labels; a label flows one
    hop per round, so rounds ≈ the component diameter (near-dup
    clusters are shallow; for adversarial path-shaped graphs use
    ``connected_components_star``, which contracts in O(log² n)
    rounds). Each
    round is one join + one partial-aggregated groupBy over the EDGE
    list (never the corpus), localCheckpoint-ed so the plan stays flat.

    Convergence: labels are element-wise monotone non-increasing, so the
    fixpoint is exactly "no label changed this round" — checked with a
    changed-label count (label-table join + limit(1)), which is exact
    for ANY id type. (An aggregate like sum(cluster_id) is null for
    string ids — null == null would fake convergence after one round
    and silently return under-merged clusters; ADVICE r2.)
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["src"], "left")
            .select(
                labels["id"],
                F.least(
                    labels["cluster_id"], F.coalesce("nmin", labels["cluster_id"])
                ).alias("cluster_id"),
            )
            .localCheckpoint()
        )
        changed = (
            labels.select("id", F.col("cluster_id").alias("old_cid"))
            .join(new_labels, "id")
            .filter(F.col("cluster_id") != F.col("old_cid"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond") — the web-scale tier of ``connected_components``.

    Same contract: ``(id, cluster_id)`` with ``cluster_id`` = the
    component's minimum member id. Use this over min-label propagation
    when components may be DEEP (long chains of near-dup links —
    propagation needs diameter rounds; star contraction needs
    O(log² n) and in practice a handful):

    - ``large-star``: every node points its larger neighbors at the
      minimum of its closed neighborhood;
    - ``small-star``: every node and its smaller neighbors contract
      onto their minimum.

    Each half-round is ONE partial-aggregated ``groupBy(node).min`` +
    ONE join of the edge list against that per-node minimum — the same
    skew story as ``line_dedup``: a hub with 10^9 edges collapses
    map-side in the aggregate, and the join replicates its single min
    row under AQE skew splitting. A window would pin the hub to one
    task. Edges stay (larger → smaller) directed, deduplicated, and
    localCheckpoint-ed so the iterative plan stays flat.

    Works for any orderable id type (ints, strings). Self-pairs are
    ignored. Convergence = the directed edge set reaches a fixpoint
    (exceptAll probe, exact for any type); the result is then a star
    forest: every node points directly at its component minimum.
    """
    sym = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    sym = sym.union(
        sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # every mentioned node gets a label (a node seen only in self-pairs
    # is its own singleton component, matching connected_components)
    nodes = sym.select(F.col("src").alias("id")).distinct().localCheckpoint()
    # orient larger -> smaller (small-star's input invariant)
    edges = (
        sym.filter(F.col("src") > F.col("dst")).distinct().localCheckpoint()
    )

    def _large_star(e: DataFrame) -> DataFrame:
        s = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        mins = s.groupBy("src").agg(F.min("dst").alias("_mn"))
        mins = mins.select("src", F.least("_mn", F.col("src")).alias("_m"))
        return (
            s.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        mins = e.groupBy("src").agg(F.min("dst").alias("_m"))
        moved = (
            e.join(mins, "src")
            .filter(F.col("dst") != F.col("_m"))
            .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        )
        selfed = mins.select("src", F.col("_m").alias("dst"))
        return moved.union(selfed).filter(F.col("src") != F.col("dst")).distinct()

    for _ in range(max_iter):
        new_edges = _small_star(_large_star(edges)).localCheckpoint()
        changed = (
            new_edges.exceptAll(edges).limit(1).count()
            + edges.exceptAll(new_edges).limit(1).count()
        )
        edges = new_edges
        if changed == 0:
            break
    # min per node, not a raw projection: if max_iter exhausted before
    # the fixpoint, intermediate digraphs can hold several out-edges per
    # node — the contract is ONE row per id (best-effort under-merge,
    # like non-converged propagation)
    roots = edges.groupBy("src").agg(F.min("dst").alias("_root"))
    return nodes.join(
        roots.withColumnRenamed("src", "id"), "id", "left"
    ).select("id", F.coalesce("_root", F.col("id")).alias("cluster_id"))


def semantic_duplicates(
    embeddings: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) candidate stage: k-means-cluster the
    embedding space, then search for near-duplicate pairs ONLY within
    each cluster — pairwise cost drops from O(n²) to Σ|cluster|², and
    the cluster id is the one shuffle key (the same discipline as the
    MinHash band buckets and the LSH hyperplane buckets).

    ``centroids``: the trained k-means array (embedding/index.
    train_centroids — seeded driver-sample Lloyd's, persistable through
    embedding/store so runs and oracles replay the same assignment).
    Returns (id_a, id_b, cos_sim) same-cluster pairs ≥ threshold.
    Semantic pairs ⊆ exact all-pairs output: the cluster scope is the
    recall/cost trade, and nlist is the knob (nlist=1 ≡ brute force;
    at scale pick nlist ∝ √n so clusters stay bounded).
    """
    from customkb_spark.embedding.index import assign_clusters

    assigned = assign_clusters(embeddings, centroids, vec_col)
    return embedding_near_duplicates(
        assigned, id_col, vec_col, threshold, bucket_col="cluster_id"
    )


def semdedup_apply(
    embeddings: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    keep: str = "low_centroid_sim",
) -> DataFrame:
    """Full SemDeDup application: semantic pairs → connected components
    → one survivor per duplicate group.

    ``keep`` picks the survivor within each group:
    - ``"low_centroid_sim"`` — the paper's policy: keep the member
      LEAST similar to its cluster centroid (prunes the dense core of
      each semantic clump, retaining the diverse rim).
    - ``"min_id"`` — the engine's canonical keep-first policy (matches
      ``connected_components``' representative labels).

    Returns every embedding id with (cluster_id, centroid_sim, kept).
    Scale shape: assignment and centroid_sim come from
    ``index.assign_with_centroid_sim`` in ONE pass — an Arrow-batched
    matmul UDF over broadcast centroids (the plan stays O(1) in nlist);
    components run over the edge list only; the survivor choice is a
    window partitioned by duplicate group (bounded by group size,
    never global).
    """
    from pyspark.sql import Window

    from customkb_spark.embedding.index import assign_with_centroid_sim

    if keep not in ("low_centroid_sim", "min_id"):
        raise ValueError(f"semdedup_apply: unknown keep policy {keep!r}")
    assigned = assign_with_centroid_sim(embeddings, centroids, vec_col)
    with_sim = assigned.select(
        F.col(id_col).alias("id"), "cluster_id", "centroid_sim"
    )
    pairs = embedding_near_duplicates(
        assigned, id_col, vec_col, threshold, bucket_col="cluster_id"
    )
    groups = connected_components(pairs).withColumnRenamed("cluster_id", "group_id")
    member = with_sim.join(groups, "id", "left")
    order = (
        [F.asc("centroid_sim"), F.asc("id")]
        if keep == "low_centroid_sim"
        else [F.asc("id")]
    )
    # split BEFORE the window: singletons (most of a real corpus) all
    # carry a NULL group_id, and routing them through the window would
    # collapse them into one skewed partition. Only grouped members —
    # bounded by the duplicate mass — enter the window.
    w = Window.partitionBy("group_id").orderBy(*order)
    grouped = member.filter(F.col("group_id").isNotNull()).select(
        "id",
        "cluster_id",
        "centroid_sim",
        (F.row_number().over(w) == 1).alias("kept"),
    )
    singles = member.filter(F.col("group_id").isNull()).select(
        "id", "cluster_id", "centroid_sim", F.lit(True).alias("kept")
    )
    return grouped.unionByName(singles)


def semdedup_incremental(
    new_embeddings: DataFrame,
    kept_embeddings: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Incremental SemDeDup: admit only new docs that are NOT semantic
    duplicates of the already-kept corpus (the production ingest path —
    a new batch dedups against the standing dataset, never re-pairing
    the corpus against itself).

    Both sides are assigned to the SAME frozen centroids (the
    incremental-ANN discipline of embedding/store: training is not
    redone per batch, drift is a separate retrain signal), and the
    cosine join is new×kept restricted to matching cluster cells — cost
    is |batch| × avg-cell-occupancy, independent of corpus size beyond
    the cell it lands in. Returns the admitted rows of
    ``new_embeddings`` (original columns), minus any new doc whose
    nearest kept same-cell neighbor clears ``threshold``; new-vs-new
    duplicates within the batch are NOT resolved here — run
    ``semdedup_apply`` on the admitted batch when that matters.

    If ``kept_embeddings`` already carries a ``cluster_id`` column (the
    streaming gate persists it at admit time, partitioned by cell), the
    stored assignment is reused — re-deriving argmin-L2 for the whole
    standing corpus on every batch is exactly the linear-in-corpus cost
    this path exists to avoid, and a cluster-partitioned kept table
    additionally prunes the scan to the batch's landed cells.
    """
    from customkb_spark.embedding.index import assign_clusters

    new_a = assign_clusters(new_embeddings, centroids, vec_col)
    if "cluster_id" in kept_embeddings.columns:
        # EXPLICIT cell pruning: collect the batch's landed cells (a
        # ≤nlist-value list — one tiny job on the checkpointed batch)
        # and filter the kept scan to them. Dynamic partition pruning
        # does NOT fire for this shape (the batch side has no selective
        # filter, so Spark's DPP heuristic passes), and without the
        # static IN-filter a partitioned kept table would still be read
        # in full — the docstring's pruning claim, made true by hand.
        new_a = new_a.localCheckpoint()
        cells = [
            r["cluster_id"]
            for r in new_a.select("cluster_id").distinct().collect()
        ]
        kept_src = kept_embeddings.filter(F.col("cluster_id").isin(cells))
    else:
        kept_src = assign_clusters(kept_embeddings, centroids, vec_col)
    kept_a = kept_src.select(
        F.col(id_col).alias("_kept_id"),
        F.col(vec_col).alias("_kept_vec"),
        "cluster_id",
    )
    sim = V.cosine(F.col(vec_col), F.col("_kept_vec"))
    dup_ids = (
        new_a.join(kept_a, "cluster_id")
        .filter(F.round(sim, 6) >= threshold)
        .select(F.col(id_col).alias("_dup_id"))
        .distinct()
    )
    return (
        new_embeddings.join(
            dup_ids, new_embeddings[id_col] == dup_ids["_dup_id"], "left_anti"
        )
    )


# ------------------------------------------------- rolling window hash

# Two independent odd 64-bit polynomial bases (the golden-ratio and
# xxhash avalanche constants — any fixed odd values work) with their
# modular inverses mod 2^64. Newton's iteration x <- x(2 - b*x) doubles
# the number of correct low bits per step; x0 = b is already correct to
# 3 bits for odd b (b^2 = 1 mod 8), so 6 steps cover 64.
_RH_MASK = (1 << 64) - 1


def _inv_mod_2_64(b: int) -> int:
    x = b
    for _ in range(6):
        x = (x * (2 - b * x)) & _RH_MASK
    return x


_RH_BASE1 = 0x9E3779B97F4A7C15
_RH_BASE2 = 0xC2B2AE3D27D4EB4F
_RH_INV1 = _inv_mod_2_64(_RH_BASE1)
_RH_INV2 = _inv_mod_2_64(_RH_BASE2)


def _rk_window_hashes(h_any, k: int, base: int, binv: int):
    """O(n) Karp-Rabin hashes of every stride-1 k-window of a per-token
    hash array: ``w[i] = sum_{m<k} h[i+m] * base^(k-1-m)  (mod 2^64)``.

    Computed without per-window work via the prefix form
    ``c[i] = sum_{j<i} h[j] * base^(-j)`` (one cumsum), then
    ``w[i] = base^(i+k-1) * (c[i+k] - c[i])`` — the position factors
    cancel exactly, so ``w[i]`` depends only on the window's token-hash
    sequence. All arithmetic wraps mod 2^64 in numpy uint64 (exact
    modular arithmetic; numpy integer arrays wrap silently, so this is
    independent of Spark's ANSI setting). Returns int64[n-k+1]."""
    import numpy as np

    h = np.asarray(h_any, dtype=np.int64).astype(np.uint64)
    n = int(h.shape[0])
    binv_pows = np.full(n, np.uint64(binv), dtype=np.uint64)
    binv_pows[0] = np.uint64(1)
    np.cumprod(binv_pows, out=binv_pows)  # base^(-j), j = 0..n-1
    c = np.zeros(n + 1, dtype=np.uint64)
    np.cumsum(h * binv_pows, out=c[1:])  # prefix sums of h[j]*base^(-j)
    b_pows = np.full(n, np.uint64(base), dtype=np.uint64)
    b_pows[0] = np.uint64(1)
    np.cumprod(b_pows, out=b_pows)  # base^j, j = 0..n-1
    w = (c[k:] - c[: n - k + 1]) * b_pows[k - 1 :]
    return w.astype(np.int64)


def duplicated_substring_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
    hash_impl: str = "rolling",
) -> DataFrame:
    """ExactSubstr duplicated-span report — Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" (the
    suffix-array exact-substring dedup; no reference module implements
    it, the paper is the spec — it complements the reference's
    document-level hygiene in database/chunking.py the same way
    span_dedup_stats complements C4).

    Every stride-1 window of ``k`` tokens is hashed; an occurrence is a
    *duplicate* when the same window text occurs elsewhere in the
    corpus and this occurrence is not the corpus-order first (min
    (doc, pos) — the canonical copy, which survives). Overlapping or
    adjacent duplicate windows merge into maximal spans
    (gaps-and-islands), the fixed-window approximation of the paper's
    arbitrary-length suffix-array repeats: any duplicated substring of
    m >= k tokens yields m-k+1 consecutive duplicated windows that
    merge back into exactly the full span; nothing shorter than k can
    produce a window at all.

    Returns ``(id_col, span_start, span_end, n_windows)`` — token
    positions under the corpus tokenizer (functions/text.tokens),
    0-based, end-exclusive, ordered within a doc by span_start.

    Plan at 100 TB:
    - window hashing is map-side and O(n_tokens) per doc (default
      ``hash_impl="rolling"``): each token is hashed ONCE JVM-side
      (two independently-seeded xxhash64 passes over the staged token
      array), then an Arrow-batched numpy Karp-Rabin roll turns them
      into 128-bit window keys in O(1) per position — vs the legacy
      ``hash_impl="md5"`` path's O(n_tokens x k) chars re-built and
      re-hashed per window (at the paper's k=50 that pushed ~50x the
      corpus bytes through string-build + md5; it was the repo's most
      expensive sf10 query). The md5 path is kept as the zero-Python
      fallback and the equality anchor (tests pin rolling == md5
      spans); the rolling key also halves the shuffle width (16-byte
      struct vs 32-char hex);
    - the occurrence table shuffles ONCE on the 128-bit window hash
      with full partial aggregation (count + min-struct both combine
      map-side), so a hyper-common boilerplate window collapses to one
      row per map task and can't pin a reducer;
    - duplicate marking joins occurrences against the (count > 1)
      aggregate — one row per duplicated hash on the build side, no
      fan-out. Below the broadcast threshold the duplicated-hash table
      broadcasts and the occurrence side never shuffles; above it the
      sort-merge join is AQE-skew-splittable (a boilerplate window with
      millions of occurrences splits across tasks because the build
      side carries exactly one row per key);
    - the occurrence lineage is evaluated twice (probe + aggregate
      input) — both are map-side scans; localCheckpoint it only when
      tokenize+hash dominates the cost of materializing a
      corpus-token-sized table;
    - the interval merge is a per-document window (bounded by doc
      length), never a corpus-wide or single-partition sort.
    """
    occ = _window_occurrences(docs, id_col, text_col, k, hash_impl)
    keys = _wkey_cols(hash_impl)
    agg, is_first = _first_occurrence_agg(occ, id_col, keys)
    dup = (
        occ.join(agg.filter(F.col("_n_occ") > 1), keys)
        .filter(~is_first)
        .select(id_col, "pos")
    )
    return _merge_dup_spans(dup, id_col, k)


def _first_occurrence_agg(occ, id_col: str, keys: list[str]):
    """Per-window-key (count, corpus-order-first marker) over an
    occurrence table — returns ``(agg_df, is_first)`` where ``agg_df``
    has columns ``(*keys, _n_occ, _first*)`` and ``is_first`` is a
    predicate valid on ``occ.join(agg_df, keys)`` rows.

    The lexicographic min-(id, pos) is encoded as ONE fixed-width
    decimal when the id is integral: ``id * 2^31 + pos`` as
    decimal(31,0) is exact (|id| <= 2^63 so the product < 10^29, and
    0 <= pos < 2^31 keeps the encoding order-isomorphic to (id, pos)).
    This matters for the plan, not the semantics: ``min`` over a
    struct (or string) aggregation buffer is not UnsafeRow-mutable, so
    Catalyst demotes the whole corpus-window-sized aggregation to a
    SortAggregate — a full sort of every occurrence row on both sides
    of the shuffle (measured: the dominant cost of the sf10 spans leg,
    far above the window hashing it was blamed on). A decimal buffer
    keeps it a HashAggregate. Non-integral ids fall back to the
    min(struct) form and its SortAggregate, documented here."""
    id_type = occ.schema[id_col].dataType
    if isinstance(
        id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        ord_expr = F.col(id_col).cast("decimal(19,0)") * F.lit(
            2_147_483_648
        ).cast("decimal(10,0)") + F.col("pos").cast("decimal(10,0)")
        agg = (
            occ.select(*keys, ord_expr.alias("_ord"))
            .groupBy(*keys)
            .agg(
                F.count(F.lit(1)).alias("_n_occ"),
                F.min("_ord").alias("_first_ord"),
            )
        )
        return agg, ord_expr == F.col("_first_ord")
    agg = occ.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_n_occ"),
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("_first"),
    )
    is_first = (F.col(id_col) == F.col(f"_first.{id_col}")) & (
        F.col("pos") == F.col("_first.pos")
    )
    return agg, is_first


def _window_occurrences(
    docs: DataFrame, id_col: str, text_col: str, k: int, hash_impl: str = "rolling"
) -> DataFrame:
    """(id, pos, *window-key) for every stride-1 k-token window —
    map-side (tokenize + hash + posexplode, no shuffle). Key columns
    per impl: :func:`_wkey_cols`.

    ``hash_impl="rolling"`` (default): the key is (h1, h2) — two
    independent 64-bit Karp-Rabin hashes rolled over per-token xxhash64
    values in an Arrow-batched mapInPandas stage (O(n_tokens) per doc;
    see :func:`_rk_window_hashes`), emitted as FLAT LONG columns (see
    _wkey_cols for why not a struct). The scan recurrence (prefix
    cumsum/cumprod) is genuinely inexpressible in DataFrame algebra —
    Spark has no array scan — so this is the one sanctioned Python
    stage, and it operates on long arrays, never text.

    ``hash_impl="md5"``: whash is the hex md5 of the re-built k-gram,
    one md5 per window — zero Python, O(n_tokens x k) chars hashed.
    Kept as the equality anchor and fallback."""
    toked = docs.select(F.col(id_col), X.tokens(text_col).alias("_toks")).filter(
        F.size("_toks") >= k
    )
    if hash_impl == "md5":
        return toked.select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("_toks") - k),
                    lambda i: F.md5(F.array_join(F.slice("_toks", i + 1, k), " ")),
                )
            ).alias("pos", "whash"),
        )
    if hash_impl != "rolling":
        raise ValueError(f"hash_impl must be 'rolling' or 'md5', got {hash_impl!r}")
    # _toks is staged in its own projection, so the regex tokenizer runs
    # once even though two hash passes reference it (module docstring:
    # CollapseProject keeps a non-cheap expression referenced twice).
    hashed = toked.select(
        F.col(id_col),
        F.transform("_toks", lambda t: F.xxhash64(t)).alias("_h1"),
        F.transform("_toks", lambda t: F.xxhash64(t, F.lit(1))).alias("_h2"),
    )
    out_schema = T.StructType(
        [
            hashed.schema[id_col],
            T.StructField("_w1", T.ArrayType(T.LongType())),
            T.StructField("_w2", T.ArrayType(T.LongType())),
        ]
    )

    def roll(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "_w1": [
                        _rk_window_hashes(h, k, _RH_BASE1, _RH_INV1)
                        for h in pdf["_h1"]
                    ],
                    "_w2": [
                        _rk_window_hashes(h, k, _RH_BASE2, _RH_INV2)
                        for h in pdf["_h2"]
                    ],
                }
            )

    return (
        hashed.mapInPandas(roll, out_schema)
        .select(
            F.col(id_col),
            F.posexplode(F.arrays_zip("_w1", "_w2")).alias("pos", "_z"),
        )
        .select(
            id_col,
            "pos",
            F.col("_z._w1").alias("h1"),
            F.col("_z._w2").alias("h2"),
        )
    )


def _wkey_cols(hash_impl: str) -> list[str]:
    """Window-key column names per hash impl. The rolling key is TWO
    FLAT LONG columns, not a struct: struct grouping keys fall off the
    UnsafeRow fast path and measured 2-3x slower than flat longs on
    the corpus-window-sized groupBy (sf10: 36-50 s struct vs 13-29 s
    flat for the identical aggregation)."""
    return ["whash"] if hash_impl == "md5" else ["h1", "h2"]


def whash_key_prefix(col: str = "h1") -> "F.Column":
    """Bounded (256-way) partition key over a rolling window-hash
    column, for standing-state layouts (streaming substr gate)."""
    return F.pmod(F.col(col), F.lit(256)).cast("int")


def _merge_dup_spans(dup: DataFrame, id_col: str, k: int) -> DataFrame:
    """Gaps-and-islands merge of duplicated window positions into
    maximal ``(span_start, span_end, n_windows)`` spans — per-document
    windows only (bounded by doc length, never corpus-wide)."""
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = dup.select(
        id_col,
        "pos",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1)
        .otherwise(0)
        .alias("_new"),
    )
    islands = flagged.select(
        id_col,
        "pos",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("_isl"),
    )
    return (
        islands.groupBy(id_col, "_isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + k).cast("long").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_windows"),
        )
        .select(id_col, "span_start", "span_end", "n_windows")
    )


def exact_substring_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 50,
    hash_impl: str = "rolling",
) -> DataFrame:
    """Shipped-corpus counterpart of duplicated_substring_spans: cut
    the duplicated spans out of every document, keeping the
    corpus-order canonical occurrence (ExactSubstr's remove-all-but-one
    policy). A fully-duplicated non-canonical document comes back with
    empty text (the paper drops it; callers filter on n_tokens >
    removed_tokens if they want that).

    Returns ``(id_col, n_tokens, removed_tokens, text_col)`` — the
    cleaned text re-joined on single spaces (the tokenizer's whitespace
    canonicalization, same convention as content_hash). Every input doc
    appears exactly once, cleaned or untouched.

    The span list per doc is small (it is the output of an interval
    merge), so the token filter is an O(n_tokens x n_spans) JVM
    expression — no Python, no extra shuffle beyond the spans job.
    """
    spans = duplicated_substring_spans(docs, id_col, text_col, k, hash_impl)
    return _cut_spans(docs, spans, id_col, text_col)


def _cut_spans(
    docs: DataFrame, spans: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Remove token spans from documents: every input doc comes back
    exactly once as ``(id, n_tokens, removed_tokens, text)`` with the
    span tokens filtered out and the rest re-joined on single spaces."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toked = docs.select(F.col(id_col), X.tokens(text_col).alias("_toks"))
    joined = toked.join(per_doc, id_col, "left").select(
        id_col,
        "_toks",
        F.coalesce(
            "_spans",
            F.array().cast("array<struct<span_start:long,span_end:long>>"),
        ).alias("_spans"),
    )
    kept = F.filter(
        "_toks",
        lambda t, i: ~F.exists(
            "_spans",
            lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
        ),
    )
    return joined.select(
        F.col(id_col),
        F.size("_toks").cast("long").alias("n_tokens"),
        (F.size("_toks") - F.size(kept)).cast("long").alias("removed_tokens"),
        F.array_join(kept, " ").alias(text_col),
    )
