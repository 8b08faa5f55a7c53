"""Document deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale design notes (100 TB corpus):
  * exact dedup = hash-groupBy — one shuffle on a 16-byte digest; no content
    comparison ever crosses the wire (only digests).
  * MinHash: signatures via explode → groupBy(doc) with k min-aggregates —
    Catalyst plans partial (map-side) mins, so the shuffle carries one
    k-vector per doc, not the token stream. LSH banding turns O(n²) pair
    generation into an equi-join on band keys (shuffle co-partitioned).
  * n-gram Jaccard: inverted-index self-join (token → docs) with count
    aggregation — never a cross join; hot tokens can be dropped by document
    frequency (stop-shingle cut) to cap join fan-out.
  * SimHash: per-bit majority vote folded into ONE groupBy with bit-level
    aggregate expressions (no UDF); Hamming pairs via xor+bit_count after a
    same-block equi-join.
All hashes use the portable md5-60bit formula (queries/common.py) so DuckDB
oracles can replay them bit-identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from embulk_filter_copy_spark.portable import spark_phash


def exact_dedup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content digest."""
    return (
        df.withColumn("content_md5", F.md5(F.col(text_col)))
        .groupBy("content_md5")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_doc_id"))
    )


def tokens(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct (doc, token) pairs — the shared first stage of the set-based
    dedup family."""
    return (
        df.select(id_col, F.explode(F.split(F.col(text_col), " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )


def ngram_shingles(
    df: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    distinct: bool = True,
) -> DataFrame:
    """(id, sh) word n-gram shingles, built entirely JVM-side
    (split → sequence → transform → explode, no Python). ``distinct=True``
    gives the SET view the similarity family needs; ``distinct=False``
    keeps one row per window position (the exact-substring view, which
    counts positions, not types). Docs shorter
    than ``n`` tokens yield their single short gram, so no doc silently
    disappears from the shingle space."""
    if n == 1 and distinct:
        return tokens(df, id_col, text_col).withColumnRenamed("tok", "sh")
    grams = F.expr(
        f"transform(sequence(0, greatest(size(split({text_col}, ' ')) - {n}, 0)),"
        f" i -> concat_ws(' ', slice(split({text_col}, ' '), i + 1, {n})))"
    )
    # drop grams made solely of empty tokens (whitespace runs / empty text
    # make concat_ws emit separator-only strings) — trim catches those while
    # keeping grams that contain any real token
    sh = df.select(id_col, F.explode(grams).alias("sh")).filter(
        F.trim(F.col("sh")) != ""
    )
    return sh.distinct() if distinct else sh


def minhash_signatures(
    df: DataFrame, k: int = 8, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """k-permutation MinHash over the unigram token set: doc_id, mh0..mh{k-1}."""
    tok = tokens(df, id_col, text_col)
    aggs = [
        F.min(F.expr(spark_phash("tok", f"mh{i}:"))).alias(f"mh{i}") for i in range(k)
    ]
    return tok.groupBy(id_col).agg(*aggs)


def minhash_candidate_pairs(
    sig: DataFrame,
    bands: int = 4,
    rows_per_band: int = 2,
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: docs agreeing on ALL minhashes of any band are candidates.
    Implemented as `bands` equi-joins on the band tuple (each co-partitioned
    by its band key), unioned and de-duplicated.

    ``max_bucket_size`` drops band buckets holding more than that many docs
    before the self-join — the scale guard: an LSH bucket of m docs emits
    O(m²) candidate pairs, so one near-universal signature (boilerplate
    headers, empty docs) turns the join quadratic. Production dedup
    pipelines cap or sample such buckets; capped buckets mean "too common
    to be an informative near-dup signal", exactly like the stop-shingle
    cut in :func:`ngram_jaccard_pairs`."""
    from pyspark.sql import Window

    k = bands * rows_per_band
    if not all(f"mh{i}" in sig.columns for i in range(k)):
        raise ValueError(
            f"signature too narrow: bands={bands} x rows_per_band={rows_per_band} "
            f"needs mh0..mh{k - 1}"
        )
    pairs = None
    for b in range(bands):
        cols = [f"mh{i}" for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        sb = sig.select(id_col, *cols)
        if max_bucket_size is not None:
            # one extra shuffle per band, but it replaces a quadratic join
            # fan-out with a linear windowed count
            sb = (
                sb.withColumn(
                    "_bs", F.count(F.lit(1)).over(Window.partitionBy(*cols))
                )
                .filter(F.col("_bs") <= max_bucket_size)
                .drop("_bs")
            )
        a = sb.select(F.col(id_col).alias("a"), *cols)
        c = sb.select(F.col(id_col).alias("b"), *cols)
        j = a.join(c, cols).filter(F.col("a") < F.col("b")).select("a", "b")
        pairs = j if pairs is None else pairs.unionByName(j)
    return pairs.distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    n: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int | None = None,
    hash_shingles: bool = True,
) -> DataFrame:
    """Near-dup pairs by n-gram-set Jaccard via an inverted-index join.

    ``max_doc_freq`` drops shingles appearing in more than that many docs
    (stop-shingle cut) — the knob that keeps join fan-out bounded on a
    100 TB corpus with hot shingles.

    ``hash_shingles=True`` (default) replaces the shingle STRING with its
    portable 60-bit hash before the distinct and the self-join, so every
    shuffle in the pipeline (dedup, inverted-index join, doc-freq cut)
    carries 8-byte longs instead of n-gram text — at 100 TB that is the
    difference between shuffling ~25 bytes and 8 bytes per posting. A
    collision (~n²/2^60 over DISTINCT shingles) can merge two shingles
    globally; the DuckDB oracle replays the identical hash, so
    cross-engine equality is exact regardless.
    """
    sh = ngram_shingles(df, n, id_col, text_col, distinct=not hash_shingles)
    if hash_shingles:
        # hash FIRST, then dedup: the distinct shuffle itself rides on longs
        sh = sh.select(
            id_col, F.expr(spark_phash("sh", "jac:")).alias("sh")
        ).distinct()
    if max_doc_freq is not None:
        hot = sh.groupBy("sh").count().filter(F.col("count") > max_doc_freq).select("sh")
        sh = sh.join(hot, "sh", "left_anti")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col(id_col).alias("a"), "sh")
    b = sh.select(F.col(id_col).alias("b"), "sh")
    shared = (
        a.join(b, "sh")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("szb"))
    return (
        shared.join(sa, "a")
        .join(sb, "b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared") / (F.col("sza") + F.col("szb") - F.col("shared")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def simhash_sig(
    df: DataFrame, bits: int = 16, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``bits``-bit SimHash over the unigram token set, all JVM-side
    expressions: per bit, majority vote of token-hash bits; no UDF, ONE
    groupBy regardless of width (the ``bits`` sums are sibling aggregates
    with map-side partials).

    Bit sources: bits 0-31 come from the ``sim:``-salted portable 60-bit
    hash — so ``bits=16`` is bit-identical to the engine's original 16-bit
    simhash (and its DuckDB oracle) — and bits 32-63 from an independent
    ``sim2:`` salt. The signature is assembled with bitwise OR of shifted
    bits, NOT addition: bit 63 as an addend would overflow the signed
    long, while ``shiftleft(1L, 63)`` is well-defined two's-complement."""
    if bits not in (16, 32, 64):
        raise ValueError(f"bits must be one of 16/32/64, got {bits}")
    tok = tokens(df, id_col, text_col).withColumn(
        "h1", F.expr(spark_phash("tok", "sim:"))
    )
    if bits > 32:
        tok = tok.withColumn("h2", F.expr(spark_phash("tok", "sim2:")))
    votes = []
    for b in range(bits):
        src, sh = ("h1", b) if b < 32 else ("h2", b - 32)
        votes.append(
            F.sum(
                F.when(F.expr(f"({src} >> {sh}) & 1") == 1, F.lit(1)).otherwise(F.lit(-1))
            ).alias(f"v{b}")
        )
    agg = tok.groupBy(id_col).agg(*votes)
    sim = None
    for b in range(bits):
        bit = (
            F.when(F.col(f"v{b}") > 0, F.expr(f"shiftleft(cast(1 as bigint), {b})"))
            .otherwise(F.lit(0).cast("long"))
        )
        sim = bit if sim is None else sim.bitwiseOR(bit)
    return agg.select(id_col, sim.cast("long").alias("simhash"))


def simhash16(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """The original 16-bit operator, now a :func:`simhash_sig` special case
    (same hash values, same column names)."""
    return simhash_sig(df, 16, id_col=id_col, text_col=text_col)


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 2,
    bands: int = 4,
    bits: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance via bit-band LSH: the
    ``bits``-bit simhash is split into ``bands`` disjoint bit ranges; docs
    agreeing exactly on ANY band are candidates (one equi-join per band,
    co-partitioned on the band key — never an all-pairs join), then
    candidates are verified with ``bit_count(ha ^ hb) <= max_hamming``.

    With ``bands > max_hamming`` the banding is LOSSLESS (pigeonhole: at
    most ``max_hamming`` differing bits spread over ``bands`` disjoint bands
    leave at least one band bit-identical), so the result equals the
    all-pairs answer without ever forming it. At 100 TB scale the knobs
    shift to ``bits=64, bands=4`` (16-bit bands: band-key space 2^16, so a
    band bucket holds ~n/65536 docs) — ``bits`` is genuinely parameterized
    through :func:`simhash_sig`, and 16-bit output is unchanged.
    ``max_bucket_size`` additionally caps degenerate buckets exactly like
    :func:`minhash_candidate_pairs` (capping breaks the lossless guarantee
    for docs inside capped buckets — the standard recall-for-throughput
    trade)."""
    from pyspark.sql import Window

    # ValueError, not assert: these guard the LOSSLESSNESS precondition —
    # under `python -O` an assert is stripped and an invalid combination
    # would silently return an incomplete pair set
    if bands <= max_hamming:
        raise ValueError(
            f"banding is lossless only when bands > max_hamming "
            f"(got bands={bands}, max_hamming={max_hamming})"
        )
    if bits % bands != 0:
        raise ValueError(f"bits={bits} must be divisible by bands={bands}")
    width = bits // bands
    sh = simhash_sig(df, bits, id_col=id_col, text_col=text_col)
    # ONE exploded self-join on (band index, band value) instead of one join
    # per band: the explode multiplies rows by `bands` (tiny rows: id +
    # simhash + band key) but computes the simhash aggregation once per join
    # side instead of once per band per side -- the per-band-join variant
    # re-ran the token-explode aggregation 2*bands times
    band_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("_band_idx"),
                F.expr(f"(simhash >> {i * width}) & {2 ** width - 1}").alias("_band_val"),
            )
            for i in range(bands)
        ]
    )
    e = sh.select(id_col, "simhash", F.explode(band_structs).alias("_bd")).select(
        id_col, "simhash", "_bd._band_idx", "_bd._band_val"
    )
    if max_bucket_size is not None:
        e = (
            e.withColumn(
                "_bs",
                F.count(F.lit(1)).over(Window.partitionBy("_band_idx", "_band_val")),
            )
            .filter(F.col("_bs") <= max_bucket_size)
            .drop("_bs")
        )
    # materialize the (small: id + simhash + band key) band table once so the
    # self-join's two sides share ONE run of the token-explode aggregation
    # instead of recomputing it per side
    e = e.localCheckpoint()
    a = e.select(F.col(id_col).alias("a"), F.col("simhash").alias("ha"), "_band_idx", "_band_val")
    b = e.select(F.col(id_col).alias("b"), F.col("simhash").alias("hb"), "_band_idx", "_band_val")
    return (
        a.join(b, ["_band_idx", "_band_val"])
        .filter(F.col("a") < F.col("b"))
        # verify INSIDE the band join so the distinct only carries true
        # near-dups, not every band collision
        .withColumn("hamming", F.expr("cast(bit_count(ha ^ hb) as int)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    node_col: str = "doc_id",
    max_iters: int = 20,
) -> DataFrame:
    """Dedup-cluster assembly: candidate PAIRS → connected COMPONENTS
    (every doc labeled with the min doc id reachable through near-dup
    edges) — the step a real pipeline runs after LSH so "keep one doc per
    cluster" is well-defined even when near-dup is not transitive.

    Distributed min-label propagation: each round, every node takes the min
    of its own label and its neighbors' labels (one equi-join + one
    partial-aggregated groupBy per round); converges in O(component
    diameter) rounds -- near-dup clusters are shallow (stars/cliques), so
    2-4 rounds in practice. Convergence is detected STRUCTURALLY: each
    round carries a per-node changed flag and sums it (one cheap agg over
    the already-checkpointed round output) — works for ANY orderable node
    type incl. string doc ids, where a numeric-sum trick would silently
    cast to NULL and declare convergence after one round. The driver loop
    only orchestrates; all data movement is shuffles on node ids. Each
    round's labels are ``localCheckpoint``-ed: iterative algorithms MUST
    truncate lineage or the logical plan (and codegen) grows by a copy of
    the upstream graph per round. On a real cluster use reliable
    ``checkpoint`` to durable storage instead, so an executor loss cannot
    drop a round; at 10^10+ edges swap in large-star/small-star."""
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = nodes.select(
        F.col(node_col).alias("node"), F.col(node_col).alias("comp")
    ).localCheckpoint()
    converged = False
    for _ in range(max_iters):
        nbr = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy("dst")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        # the changed flag rides through the checkpoint so the convergence
        # agg runs on materialized rows (no join re-execution) and compares
        # labels structurally — never via a lossy numeric projection
        step = (
            labels.join(nbr, labels["node"] == nbr["dst"], "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))
                ).alias("comp"),
                F.coalesce(F.col("nbr_comp") < F.col("comp"), F.lit(False)).alias("_chg"),
            )
            .localCheckpoint()
        )
        n_changed = step.agg(
            F.sum(F.col("_chg").cast("int")).alias("n")
        ).collect()[0]["n"]
        labels = step.drop("_chg")
        if not n_changed:  # no label moved -> fixpoint
            converged = True
            break
    if not converged:
        # a component whose diameter exceeds max_iters would silently get
        # WRONG (partial) labels — surface it instead of returning them
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(component diameter exceeds max_iters); raise max_iters"
        )
    return labels.select(F.col("node").alias(node_col), "comp")


def connected_components_star(
    pairs: DataFrame,
    nodes: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    node_col: str = "doc_id",
    max_rounds: int = 30,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — O(log n) rounds on ANY graph shape, vs min-label
    propagation's O(diameter): a 10^6-hop chain converges in ~20 rounds
    here where :func:`connected_components` would need 10^6.

    Per round, two edge rewrites (each one groupBy + one join, shuffles
    keyed on node ids, map-side-combined mins):
      * large-star: every node's strictly-larger neighbors re-attach to the
        min of its neighborhood (incl. itself);
      * small-star: edges oriented toward the smaller endpoint, then every
        node's smaller-or-equal neighborhood re-attaches to its min.
    The fixpoint is a star forest — every non-root node holds exactly the
    edge (node, component-min). Convergence is detected STRUCTURALLY
    (set-equality of consecutive edge sets, never a numeric checksum), and
    the edge set is ``localCheckpoint``-ed per round (iterative lineage
    truncation — same rule as the label-prop sibling). Works for any
    orderable node type (longs, string doc ids).

    Same signature and output as :func:`connected_components`, so callers
    (and the recursive-CTE oracle) swap freely; prefer this variant when
    components may be long chains rather than shallow near-dup clusters."""
    # restrict the graph to known nodes up front — label propagation only
    # flows through rows of ``nodes``, so an edge endpoint absent from it
    # must not bridge two components here either (contract parity: both
    # variants return identical clusters for the same inputs)
    known_u = nodes.select(F.col(node_col).alias("u")).distinct()
    known_v = known_u.select(F.col("u").alias("v"))
    E = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .join(known_u, "u", "semi")
        .join(known_v, "v", "semi")
        .distinct()
        .localCheckpoint()
    )

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m = m.select("u", F.least(F.col("u"), F.col("mn")).alias("m"))
        out = (
            sym.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        return out.filter(F.col("u") != F.col("v")).distinct()

    def small_star(e: DataFrame) -> DataFrame:
        o = e.select(
            F.greatest(F.col("u"), F.col("v")).alias("u"),
            F.least(F.col("u"), F.col("v")).alias("v"),
        )
        m = o.groupBy("u").agg(F.min("v").alias("m"))  # all v < u, so min(N ∪ {u}) = min(v)
        nbrs = o.join(m, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
        selfs = m.select(F.col("u"), F.col("m").alias("v"))
        return (
            nbrs.unionByName(selfs)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    converged = E.isEmpty()
    prev_n = None  # |E| carried across rounds: last round's new_e.count()
    for _ in range(max_rounds):
        if converged:
            break
        new_e = small_star(large_star(E)).localCheckpoint()
        # structural set-equality: equal counts + empty difference (the
        # old count is reused from the previous round's action — counting
        # a checkpointed frame twice would be one wasted job per round)
        n_new = new_e.count()
        n_old = prev_n if prev_n is not None else E.count()
        if n_new == n_old and new_e.subtract(E).isEmpty():
            converged = True
        prev_n = n_new
        E = new_e
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_rounds} "
            "rounds; raise max_rounds"
        )
    # fixpoint edges are (node, component-min) stars; isolated nodes label themselves
    roots = E.groupBy("u").agg(F.min("v").alias("comp"))
    return (
        nodes.select(F.col(node_col).alias("node"))
        .join(roots, F.col("node") == F.col("u"), "left")
        .select(
            F.col("node").alias(node_col),
            F.coalesce(F.col("comp"), F.col("node")).alias("comp"),
        )
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.35,
    n_cells: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by IVF centroid cell — the
    same coarse quantizer :func:`~.similarity.ann_ivf_topk` uses, so the
    block count scales with ``n_cells`` instead of being pinned to a
    metadata column's cardinality. At 100 TB: n_cells grows with the corpus
    (cells of ~10^4 vectors), the corpus hash-partitions by cell, and each
    cell's self-join is local. Cell blocking trades recall for boundedness
    exactly like IVF search (cross-cell near-dups are missed; raise nprobe /
    n_cells overlap to recover them). ``method`` selects the assignment
    strategy (literal inline vs broadcast join, identical cells — see
    ``similarity.assign_cells``); ``auto`` switches to the join path past
    the inline codegen ceiling. ``centroids`` overrides the positional
    quantizer — pass a ``similarity.kmeans_centroids`` fit so blocking uses
    data-shaped cells (balanced block sizes) instead of the first-n seed."""
    from embulk_filter_copy_spark.operators.similarity import (
        assign_cells,
        cosine_expr,
        ivf_centroids,
    )

    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(emb, n_cells, id_col=id_col, vec_col=vec_col)
    )
    cells = assign_cells(
        emb.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")),
        cents, n_cells, "_v", id_col="_id", method=method,
    )
    a = cells.select(F.col("_id").alias("a"), F.col("_v").alias("va"), "cell")
    b = cells.select(F.col("_id").alias("b"), F.col("_v").alias("vb"), "cell")
    return (
        a.join(b, "cell")
        .filter(F.col("a") < F.col("b"))
        .withColumn("cos", F.round(cosine_expr("va", "vb"), 4))
        .filter(F.col("cos") >= threshold)
        .select("cell", "a", "b", "cos")
    )
