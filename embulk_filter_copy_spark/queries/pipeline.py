"""Training-data pipeline queries over `documents` / `embeddings`, with
DuckDB oracles replaying the SAME portable-hash / vector formulas.

The corpus vocabulary is tiny (≈31 words), so set-similarity thresholds are
tuned high (unigram Jaccard ≥ 0.9) — the operators themselves take n-gram
size / thresholds as parameters (operators/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from embulk_filter_copy_spark.operators import dedup as D
from embulk_filter_copy_spark.operators import sampling as SA
from embulk_filter_copy_spark.operators import similarity as S
from embulk_filter_copy_spark.queries.common import duck_phash, t

_TOK_CTE = """
tok AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> ''
)
"""


# ------------------------------------------------------------- exact dedup
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup_groups(t(spark, sf_dir, "documents"))


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_md5, count(*) AS n_docs, min(doc_id) AS keep_doc_id
FROM documents GROUP BY 1
"""


# ------------------------------------------------------------- minhash
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_signatures(t(spark, sf_dir, "documents"), k=8)


def _minhash_sig_sql(k: int = 8) -> str:
    mins = ",\n       ".join(
        f"min({duck_phash('tok', f'mh{i}:')}) AS mh{i}" for i in range(k)
    )
    return f"WITH {_TOK_CTE} SELECT doc_id, {mins} FROM tok GROUP BY doc_id"


_MINHASH_CAP = 20  # max docs per LSH band bucket (see minhash_candidate_pairs)


def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = D.minhash_signatures(t(spark, sf_dir, "documents"), k=8)
    return D.minhash_candidate_pairs(
        sig, bands=4, rows_per_band=2, max_bucket_size=_MINHASH_CAP
    )


def _minhash_pairs_ctes(doc_table: str = "documents") -> tuple[str, str]:
    """(CTE list, final UNION select) — split so callers can splice the
    pair graph into a larger flat WITH list (DuckDB resolves nested WITH
    scopes poorly inside a recursive query). ``doc_table`` lets a caller
    build the pair graph over a pre-filtered doc CTE (the composed corpus
    build gates on quality first)."""
    tok_cte = _TOK_CTE if doc_table == "documents" else f"""
tok AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM {doc_table})
  WHERE tok <> ''
)
"""
    mins = ",\n       ".join(
        f"min({duck_phash('tok', f'mh{i}:')}) AS mh{i}" for i in range(8)
    )
    capped = []
    bands = []
    for b in range(4):
        c0, c1 = f"mh{2 * b}", f"mh{2 * b + 1}"
        capped.append(
            f"cb{b} AS (SELECT doc_id, {c0}, {c1} FROM ("
            f"SELECT doc_id, {c0}, {c1}, count(*) OVER (PARTITION BY {c0}, {c1}) AS bs"
            f" FROM sig) WHERE bs <= {_MINHASH_CAP})"
        )
        bands.append(
            f"SELECT x.doc_id AS a, y.doc_id AS b FROM cb{b} x JOIN cb{b} y"
            f" ON x.{c0} = y.{c0} AND x.{c1} = y.{c1} AND x.doc_id < y.doc_id"
        )
    ctes = (
        f"{tok_cte},\nsig AS (SELECT doc_id, {mins} FROM tok GROUP BY doc_id),\n"
        + ",\n".join(capped)
    )
    return ctes, "\nUNION\n".join(bands)


def _minhash_pairs_sql() -> str:
    ctes, union = _minhash_pairs_ctes()
    return f"WITH {ctes}\n{union}"


# ------------------------------------------------------------- components
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH pairs → dedup clusters: connected components over the minhash
    candidate graph, every doc labeled with its cluster's min doc id. The
    DuckDB oracle walks the same graph with a recursive CTE — an exact
    independent replay of the iterative distributed propagation."""
    docs = t(spark, sf_dir, "documents")
    sig = D.minhash_signatures(docs, k=8)
    pairs = D.minhash_candidate_pairs(
        sig, bands=4, rows_per_band=2, max_bucket_size=_MINHASH_CAP
    )
    return D.connected_components(pairs, docs.select("doc_id"))


def _components_sql() -> str:
    ctes, union = _minhash_pairs_ctes()
    return f"""
WITH RECURSIVE {ctes},
pairs AS ({union}),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION
  SELECT b AS src, a AS dst FROM pairs
),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, min(lbl) AS comp FROM reach GROUP BY node
"""


def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME clustering computed by large-star/small-star contraction
    (O(log n) rounds on any graph shape — the variant a 10^10-edge graph
    with long chains needs) against the SAME recursive-CTE oracle as the
    label-propagation implementation: the driver's hash gate proves the two
    algorithms agree."""
    docs = t(spark, sf_dir, "documents")
    sig = D.minhash_signatures(docs, k=8)
    pairs = D.minhash_candidate_pairs(
        sig, bands=4, rows_per_band=2, max_bucket_size=_MINHASH_CAP
    )
    return D.connected_components_star(pairs, docs.select("doc_id"))


def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline's final dedup verdict: one row per doc with its cluster
    id and keep flag (keep = the cluster's min doc id — the canonical
    survivor). This is the table a training-data pipeline joins against to
    filter the corpus."""
    comp = dedup_components(spark, sf_dir)
    return comp.select(
        "doc_id", "comp", (F.col("doc_id") == F.col("comp")).alias("keep")
    )


def _keep_list_sql() -> str:
    return f"""
WITH RECURSIVE {_minhash_pairs_ctes()[0]},
pairs AS ({_minhash_pairs_ctes()[1]}),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION
  SELECT b AS src, a AS dst FROM pairs
),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node AS doc_id, min(lbl) AS comp FROM reach GROUP BY node)
SELECT doc_id, comp, doc_id = comp AS keep FROM comp
"""


# ------------------------------------------------------------- jaccard
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(t(spark, sf_dir, "documents"), threshold=0.9, n=1)


DEDUP_JACCARD_SQL = f"""
WITH {_TOK_CTE},
hsh AS (SELECT DISTINCT doc_id, {duck_phash('tok', 'jac:')} AS h FROM tok),
sizes AS (SELECT doc_id, count(*) AS sz FROM hsh GROUP BY doc_id),
shared AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS shared
  FROM hsh x JOIN hsh y ON x.h = y.h AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT a, b, jaccard FROM (
  SELECT a, b, round(shared::DOUBLE / (sa.sz + sb.sz - shared), 6) AS jaccard
  FROM shared JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
) WHERE jaccard >= 0.9
"""


def dedup_jaccard3_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-trigram Jaccard — the scale-appropriate shingle: trigrams are
    discriminative, so the inverted-index join fans out per near-dup pair
    instead of per vocabulary word (the unigram variant degenerates on this
    tiny-vocab corpus; see bench numbers)."""
    return D.ngram_jaccard_pairs(t(spark, sf_dir, "documents"), threshold=0.8, n=3)


DEDUP_JACCARD3_SQL = f"""
WITH g AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
tok AS (
  SELECT DISTINCT doc_id, {duck_phash('sh', 'jac:')} AS h FROM (
    SELECT doc_id,
           unnest([array_to_string(toks[i:i+2], ' ')
                   FOR i IN range(1, greatest(len(toks) - 1, 2))]) AS sh
    FROM g
  ) WHERE trim(sh) <> ''
),
sizes AS (SELECT doc_id, count(*) AS sz FROM tok GROUP BY doc_id),
shared AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS shared
  FROM tok x JOIN tok y ON x.h = y.h AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT a, b, jaccard FROM (
  SELECT a, b, round(shared::DOUBLE / (sa.sz + sb.sz - shared), 6) AS jaccard
  FROM shared JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
) WHERE jaccard >= 0.8
"""


# ------------------------------------------------------------- simhash
_SIMHASH_CAP = 64  # max docs per bit-band bucket (see simhash_pairs)


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-band LSH pairs (4 bands x 4 bits) with the band-bucket cap. A
    16-bit simhash over this tiny-vocab corpus collides massively, so the
    TRUE hamming<=2 pair set is O(n²) — any "correct" uncapped operator
    must materialize it. The cap drops degenerate band buckets (same guard
    as minhash), bounding output at the cost of recall inside capped
    buckets; the oracle replays the banding + cap exactly."""
    return D.simhash_pairs(
        t(spark, sf_dir, "documents"),
        max_hamming=2, bands=4, max_bucket_size=_SIMHASH_CAP,
    )


DEDUP_SIMHASH_SQL = f"""
WITH {_TOK_CTE},
th AS (SELECT doc_id, {duck_phash("tok", "sim:")} AS h FROM tok),
votes AS (
  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th, range(16) t(b) GROUP BY doc_id, b
),
sh AS (
  SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
),
e AS (
  SELECT doc_id, simhash, bi, (simhash >> (bi * 4)) & 15 AS bv
  FROM sh, range(4) t(bi)
),
ec AS (
  SELECT doc_id, simhash, bi, bv FROM (
    SELECT *, count(*) OVER (PARTITION BY bi, bv) AS bs FROM e
  ) WHERE bs <= {_SIMHASH_CAP}
)
SELECT DISTINCT a, b, hamming FROM (
  SELECT x.doc_id AS a, y.doc_id AS b,
         CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
  FROM ec x JOIN ec y ON x.bi = y.bi AND x.bv = y.bv AND x.doc_id < y.doc_id
) WHERE hamming <= 2
"""


def dedup_simhash64_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB simhash configuration: 64-bit signature, 4 x 16-bit bands
    (band-key space 2^16 — buckets hold ~n/65536 docs), lossless for
    max_hamming=2 since bands > max_hamming. Exercises the parameterized
    ``bits`` path end-to-end against a full DuckDB replay (the old code
    hardcoded 16 bits and silently degenerated at bits=64)."""
    return D.simhash_pairs(
        t(spark, sf_dir, "documents"),
        max_hamming=2, bands=4, bits=64, max_bucket_size=_SIMHASH_CAP,
    )


# 64-bit oracle notes: bit 63 is assembled from the MIN_VALUE literal
# (DuckDB raises on 1::BIGINT << 63) via bit_or (sum would overflow);
# bits 32-63 come from the independent 'sim2:' salt, mirroring simhash_sig.
DEDUP_SIMHASH64_SQL = f"""
WITH {_TOK_CTE},
th AS (SELECT doc_id, {duck_phash("tok", "sim:")} AS h1,
              {duck_phash("tok", "sim2:")} AS h2 FROM tok),
votes AS (
  SELECT doc_id, bb,
         sum(CASE WHEN ((CASE WHEN bb < 32 THEN h1 >> bb
                              ELSE h2 >> (bb - 32) END) & 1) = 1
                  THEN 1 ELSE -1 END) AS v
  FROM th, range(64) t(bb) GROUP BY doc_id, bb
),
sh AS (
  SELECT doc_id,
         bit_or(CASE WHEN v > 0
                     THEN (CASE WHEN bb = 63 THEN (-9223372036854775807 - 1)
                                ELSE (1::BIGINT << bb) END)
                     ELSE 0 END) AS simhash
  FROM votes GROUP BY doc_id
),
e AS (
  SELECT doc_id, simhash, bi, (simhash >> (bi * 16)) & 65535 AS bv
  FROM sh, range(4) t(bi)
),
ec AS (
  SELECT doc_id, simhash, bi, bv FROM (
    SELECT *, count(*) OVER (PARTITION BY bi, bv) AS bs FROM e
  ) WHERE bs <= {_SIMHASH_CAP}
)
SELECT DISTINCT a, b, hamming FROM (
  SELECT x.doc_id AS a, y.doc_id AS b,
         CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
  FROM ec x JOIN ec y ON x.bi = y.bi AND x.bv = y.bv AND x.doc_id < y.doc_id
) WHERE hamming <= 2
"""


# ------------------------------------------------------------- embeddings
_DCOS = (
    "list_dot_product(x.e, y.e) / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e)))"
)


def _cell_cte(n_cells: int = 4) -> str:
    """DuckDB mirror of ivf_centroids + assign_cells: centroid i is the
    (i+1)-th corpus vector in id order (OFFSET — explicitly positional, not
    assuming 0-based contiguous ids), every vector goes to its max-cosine
    cell with 6dp rounding and lowest-cell-id tie-break."""

    def cent_cos(i: int) -> str:
        ci = f"(SELECT e FROM e ORDER BY vec_id LIMIT 1 OFFSET {i})"
        return (
            f"round(list_dot_product(e, {ci})"
            f" / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product({ci}, {ci}))), 6)"
        )

    cols = ",\n         ".join(f"{cent_cos(i)} AS c{i}" for i in range(n_cells))
    best = "greatest(" + ", ".join(f"c{i}" for i in range(n_cells)) + ")"
    cell = "-1"
    for i in reversed(range(n_cells)):  # lowest cell id wins ties (matches Spark)
        cell = f"CASE WHEN c{i} = {best} THEN {i} ELSE {cell} END"
    return f"""
e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
b AS (
  SELECT vec_id, e, CAST({cell} AS INT) AS cell
  FROM (SELECT vec_id, e,
         {cols}
        FROM e)
)"""


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.embedding_near_dup_pairs(
        t(spark, sf_dir, "embeddings"), threshold=0.35, n_cells=4
    )


DEDUP_EMB_SQL = f"""
WITH {_cell_cte(4)}
SELECT cell, a, b, cos FROM (
  SELECT x.cell, x.vec_id AS a, y.vec_id AS b, round({_DCOS}, 4) AS cos
  FROM b x JOIN b y ON x.cell = y.cell AND x.vec_id < y.vec_id
) WHERE cos >= 0.35
"""


def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return S.ann_bruteforce_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)


ANN_BRUTE_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
scored AS (
  SELECT y.vec_id AS query_id, x.vec_id AS neighbor_id, round({_DCOS}, 4) AS cos
  FROM e x JOIN e y ON y.vec_id < 5 AND x.vec_id <> y.vec_id
)
SELECT query_id, rank, neighbor_id, cos FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
  FROM scored
) WHERE rank <= 5
"""


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return S.ann_ivf_topk(emb, emb.filter(F.col("vec_id") < 5), n_cells=4, k=5)


def _ivf_sql(n_cells: int = 4, k: int = 5) -> str:
    return f"""
WITH {_cell_cte(n_cells)},
scored AS (
  SELECT y.vec_id AS query_id, x.cell, x.vec_id AS neighbor_id, round({_DCOS}, 4) AS cos
  FROM b x JOIN b y ON x.cell = y.cell AND y.vec_id < 5 AND x.vec_id <> y.vec_id
)
SELECT query_id, cell, rank, neighbor_id, cos FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def ann_ivf_joinpath_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME IVF search forced onto the broadcast-join cell-assignment
    path (the 100 TB strategy — O(1) expression size in n_cells) against
    the SAME oracle as the literal path: the driver's value-hash gate
    proves the two physical strategies are semantically identical."""
    emb = t(spark, sf_dir, "embeddings")
    return S.ann_ivf_topk(
        emb, emb.filter(F.col("vec_id") < 5), n_cells=4, k=5, method="join"
    )


def _kmeans_fixture_path() -> str:
    import os

    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures",
        "kmeans_centroids_c4.parquet",
    )


def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over a REAL k-means quantizer via the broadcast-join
    assignment path (nprobe=2) — the full 100 TB configuration.

    The centroids are a FROZEN fixture (`fixtures/kmeans_centroids_c4.
    parquet`): one deterministic `similarity.kmeans_centroids` fit (seeded
    init, 2 Lloyd rounds, verified refit-bit-identical), pinned so the
    search stage — assignment argmax + probed-cell join + top-k — is fully
    SQL-expressible and the DuckDB oracle checks rows+schema+values against
    the SAME centroid table. The iterative fit itself is covered by pytest
    property tests (seed equality at n_iters=0, monotone inertia, blob
    separation) plus a fixture-freshness test that refits and compares."""
    emb = t(spark, sf_dir, "embeddings")
    cents = spark.read.parquet(_kmeans_fixture_path())
    return S.ann_ivf_topk(
        emb, emb.filter(F.col("vec_id") < 5), n_cells=4, k=5, nprobe=2,
        method="join", centroids=cents,
    )


def _kmeans_cell_cte() -> str:
    """Shared CTEs: cosine of every vector to every FIXTURE centroid
    (rounded 6dp — the engine's pre-argmax rounding), best cell per corpus
    vector (`b`, tie → lowest cent_id: the struct-min tie-break of
    `similarity._assign_cells_join`)."""
    return f"""
e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
cent AS (SELECT cent_id, cent_v FROM read_parquet('{_kmeans_fixture_path()}')),
ca AS (
  SELECT vec_id, e, cent_id,
         round(list_dot_product(e, cent_v)
               / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(cent_v, cent_v))), 6) AS c6
  FROM e CROSS JOIN cent
),
b AS (
  SELECT vec_id, e, CAST(cent_id AS INT) AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c6 DESC, cent_id) AS rn
    FROM ca
  ) WHERE rn = 1
)"""


ANN_KMEANS_SQL = f"""
WITH {_kmeans_cell_cte()},
qp AS (
  SELECT vec_id, e, CAST(cent_id AS INT) AS cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c6 DESC, cent_id) AS rn
    FROM ca WHERE vec_id < 5
  ) WHERE rn <= 2
),
scored AS (
  SELECT y.vec_id AS query_id, x.cell, x.vec_id AS neighbor_id, round({_DCOS}, 4) AS cos
  FROM b x JOIN qp y ON x.cell = y.cell AND x.vec_id <> y.vec_id
)
SELECT query_id, cell, rank, neighbor_id, cos FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
  FROM scored
) WHERE rank <= 5
"""


def dedup_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs blocked by the k-means fixture cells —
    the real-quantizer configuration of `dedup_embedding_cosine` (balanced
    data-shaped blocks instead of the positional seed), join-path
    assignment, same oracle discipline as `ann_ivf_kmeans_topk`."""
    from embulk_filter_copy_spark.operators import dedup as DD

    emb = t(spark, sf_dir, "embeddings")
    cents = spark.read.parquet(_kmeans_fixture_path())
    return DD.embedding_near_dup_pairs(
        emb, threshold=0.35, n_cells=4, method="join", centroids=cents
    )


DEDUP_EMB_KMEANS_SQL = f"""
WITH {_kmeans_cell_cte()}
SELECT cell, a, b, cos FROM (
  SELECT x.cell, x.vec_id AS a, y.vec_id AS b, round({_DCOS}, 4) AS cos
  FROM b x JOIN b y ON x.cell = y.cell AND x.vec_id < y.vec_id
) WHERE cos >= 0.35
"""


def dedup_embedding_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup verdict: connected components over the
    embedding-cosine near-dup graph (k-means fixture cells), one canonical
    survivor (min vec_id) per component. The embedding analogue of
    `dedup_keep_list` — the table a pipeline joins to drop semantic
    near-duplicates the text-level dedups can't see. Same distributed
    shape: cell-blocked pair join → min-label propagation, shuffles only
    ids and labels."""
    from embulk_filter_copy_spark.operators import dedup as DD

    emb = t(spark, sf_dir, "embeddings")
    cents = spark.read.parquet(_kmeans_fixture_path())
    pairs = DD.embedding_near_dup_pairs(
        emb, threshold=0.35, n_cells=4, method="join", centroids=cents
    )
    comp = DD.connected_components(
        pairs, emb.select("vec_id"), node_col="vec_id"
    )
    return comp.select(
        "vec_id", "comp", (F.col("vec_id") == F.col("comp")).alias("keep")
    )


DEDUP_EMB_KEEP_SQL = f"""
WITH RECURSIVE {_kmeans_cell_cte()},
pairs AS (
  SELECT a, b FROM (
    SELECT x.vec_id AS a, y.vec_id AS b, round({_DCOS}, 4) AS cos
    FROM b x JOIN b y ON x.cell = y.cell AND x.vec_id < y.vec_id
  ) WHERE cos >= 0.35
),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION
  SELECT b AS src, a AS dst FROM pairs
),
reach(node, lbl) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node AS vec_id, min(lbl) AS comp FROM reach GROUP BY node)
SELECT vec_id, comp, vec_id = comp AS keep FROM comp
"""


def sample_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe 80/10/10 split: near-dup components (MinHash LSH graph)
    routed whole to one split — no near-copy of a training doc can land in
    val/test. Oracle: the recursive-CTE component walk + the same
    portable-hash interval layout over the component id."""
    docs = t(spark, sf_dir, "documents")
    sig = D.minhash_signatures(docs, k=8)
    pairs = D.minhash_candidate_pairs(
        sig, bands=4, rows_per_band=2, max_bucket_size=_MINHASH_CAP
    )
    return SA.split_leakage_safe(
        docs, pairs, {"train": 0.8, "val": 0.1, "test": 0.1}
    )


def _leakage_split_sql() -> str:
    ctes, union = _minhash_pairs_ctes()
    return f"""
WITH RECURSIVE {ctes},
pairs AS ({union}),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION
  SELECT b AS src, a AS dst FROM pairs
),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node AS doc_id, min(lbl) AS comp FROM reach GROUP BY node)
SELECT doc_id, comp,
       CASE WHEN u < 800000 THEN 'train'
            WHEN u < 900000 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, comp,
             ({duck_phash("comp", "split:")} % 1000000) AS u
      FROM comp)
"""


def sample_domain_token_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget quota: keep docs in hash order until each
    source hits 20k tokens — the domain-cap stage of a mixture build."""
    kept = SA.cap_tokens_per_group(
        t(spark, sf_dir, "documents"), budget=20_000,
        group_col="source", key_col="doc_id",
    )
    return kept.select(
        "doc_id", "source", "n_tok",
        F.col("grp_tokens_before").cast("long").alias("grp_tokens_before"),
    )


DOMAIN_CAP_SQL = f"""
WITH tk AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok,
         {duck_phash("doc_id", "cap:")} AS h
  FROM documents
),
r AS (
  SELECT doc_id, source, CAST(n_tok AS INT) AS n_tok,
         CAST(coalesce(sum(n_tok) OVER (
             PARTITION BY source ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS grp_tokens_before
  FROM tk
)
SELECT doc_id, source, n_tok, grp_tokens_before
FROM r WHERE grp_tokens_before < 20000
"""


def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality gate: per-query recall@5 of the IVF index (positional
    centroids, nprobe=1) vs brute-force ground truth. The oracle replays
    BOTH rankings and the hit join."""
    emb = t(spark, sf_dir, "embeddings")
    return S.ann_recall_report(
        emb, emb.filter(F.col("vec_id") < 5), n_cells=4, k=5, nprobe=1
    )


ANN_RECALL_SQL = f"""
WITH {_cell_cte(4)},
bt AS (
  SELECT y.vec_id AS query_id, x.vec_id AS neighbor_id, round({_DCOS}, 4) AS cos
  FROM e x JOIN e y ON y.vec_id < 5 AND x.vec_id <> y.vec_id
),
truth AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
    FROM bt
  ) WHERE rank <= 5
),
iv AS (
  SELECT y.vec_id AS query_id, x.vec_id AS neighbor_id, round({_DCOS}, 4) AS cos
  FROM b x JOIN b y ON x.cell = y.cell AND y.vec_id < 5 AND x.vec_id <> y.vec_id
),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
    FROM iv
  ) WHERE rank <= 5
)
SELECT t.query_id,
       count(*) AS n_truth,
       CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
       round(CAST(count(a.neighbor_id) AS DOUBLE) / count(*), 4) AS recall
FROM truth t LEFT JOIN approx a
  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
GROUP BY t.query_id
"""


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return S.ann_lsh_topk(emb, emb.filter(F.col("vec_id") < 5), n_planes=4, k=5)


def _plane(i: int) -> str:
    # positional plane selection (OFFSET), mirroring the Spark row_number
    # re-index — no assumption that ids are 0-based contiguous
    return f"(SELECT e FROM e ORDER BY vec_id LIMIT 1 OFFSET {i})"


ANN_LSH_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
b AS (
  SELECT vec_id, e,
         (CASE WHEN list_dot_product(e, {_plane(0)}) > 0 THEN 1 ELSE 0 END
        + CASE WHEN list_dot_product(e, {_plane(1)}) > 0 THEN 2 ELSE 0 END
        + CASE WHEN list_dot_product(e, {_plane(2)}) > 0 THEN 4 ELSE 0 END
        + CASE WHEN list_dot_product(e, {_plane(3)}) > 0 THEN 8 ELSE 0 END) AS bucket
  FROM e
),
scored AS (
  SELECT y.vec_id AS query_id, x.bucket, x.vec_id AS neighbor_id,
         round(list_dot_product(x.e, y.e) / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))), 4) AS cos
  FROM b x JOIN b y ON x.bucket = y.bucket AND y.vec_id < 5 AND x.vec_id <> y.vec_id
)
SELECT query_id, bucket, rank, neighbor_id, cos FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS INT) AS rank
  FROM scored
) WHERE rank <= 5
"""


# ------------------------------------------------------------- sampling
def sample_docs_by_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 25% Bernoulli corpus sample (portable-hash filter —
    narrow, shuffle-free, pushes to the scan)."""
    return SA.sample_by_hash(t(spark, sf_dir, "documents"), "doc_id", 0.25).select(
        "doc_id", "source", "n_chars"
    )


SAMPLE_HASH_SQL = f"""
SELECT doc_id, source, n_chars FROM documents
WHERE ({duck_phash("doc_id", "sample:")} % 1000000) < 250000
"""


def sample_stratified_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-per-source stratified sample (hash-order top-n)."""
    return SA.stratified_sample(
        t(spark, sf_dir, "documents"), "source", 5, "doc_id"
    ).select("doc_id", "source")


SAMPLE_STRAT_SQL = f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {duck_phash("doc_id", "strat:")}, doc_id) AS rn
  FROM documents)
WHERE rn <= 5
"""


def pack_training_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked token-budget packing: pack_id = floor(exclusive running
    token sum / 256) per source (distributed first-fit approximation)."""
    out = SA.pack_sequences(t(spark, sf_dir, "documents"), 256)
    return out.select(
        "doc_id", "source", F.col("n_tok").cast("long").alias("n_tok"), "pack_id"
    )


PACK_SEQ_SQL = """
SELECT doc_id, source, n_tok,
       CAST(floor(COALESCE(SUM(n_tok) OVER (
            PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256.0)
            AS BIGINT) AS pack_id
FROM (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok FROM documents)
"""


# ------------------------------------------- incremental signature upkeep
def dedup_incremental_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup-signature maintenance via the change feed — the
    100 TB shape: when documents change, recompute MinHash signatures ONLY
    for the changed keys and merge them into a persistent signature table,
    instead of re-sketching the whole corpus.

    Flow: documents → lake table (bootstrap) + initial signature table;
    a deterministic update batch (doc_id%7==0 → text||' updated',
    doc_id%13==0 → delete) replayed through the merge; `read_changes`
    yields the net per-key feed (per-file LSN pruning, no full scan);
    signatures recomputed for feed upserts only; deletes tombstone the
    signature rows through the same merge path. The oracle is the FULL
    recompute over the final document state — incremental == full is
    exactly the invariant this maintenance job must keep."""
    import tempfile

    from embulk_filter_copy_spark.cdc.apply import apply_batch
    from embulk_filter_copy_spark.lake.table import LakeTable

    k = 8
    mh_cols = [f"mh{i}" for i in range(k)]
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    root = tempfile.mkdtemp(prefix="efc-incsig-")
    doc_table = LakeTable.create(
        spark, f"{root}/docs", [("doc_id", "long"), ("text", "string")],
        key_columns=["doc_id"], n_buckets=8,
    )
    doc_table.append(docs.withColumn("_lsn", F.lit(0)))
    sig_table = LakeTable.create(
        spark, f"{root}/sigs",
        [("doc_id", "long")] + [(c, "long") for c in mh_cols],
        key_columns=["doc_id"], n_buckets=8,
    )
    sig_table.append(
        D.minhash_signatures(docs, k=k).withColumn("_lsn", F.lit(0))
    )
    v0 = doc_table.current_version()

    did = F.col("doc_id")
    env_null = F.lit(None).cast("string").alias("schema_change")
    upd = docs.filter((did % 7 == 0) & (did % 13 != 0)).select(
        (did + 1000).alias("lsn"),
        F.timestamp_micros(did + 1000).alias("ts"),
        F.lit("U").alias("op"),
        "doc_id",
        F.concat("text", F.lit(" updated")).alias("text"),
        env_null,
    )
    dels = docs.filter(did % 13 == 0).select(
        (did + 1_000_000).alias("lsn"),
        F.timestamp_micros(did + 1_000_000).alias("ts"),
        F.lit("D").alias("op"),
        "doc_id",
        F.lit(None).cast("string").alias("text"),
        env_null,
    )
    apply_batch(doc_table, upd.unionByName(dels), run_id="inc-docs", epoch=0)

    feed = doc_table.read_changes(since_version=v0)
    ups = feed.filter(F.col("op") == "U").select("doc_id", "text", "lsn", "ts")
    new_sigs = D.minhash_signatures(ups, k=k).join(
        ups.select("doc_id", "lsn", "ts"), "doc_id"
    )
    sig_upserts = new_sigs.select(
        "lsn", "ts", F.lit("U").alias("op"), "doc_id", *mh_cols, env_null
    )
    sig_deletes = feed.filter(F.col("op") == "D").select(
        "lsn", "ts", F.lit("D").alias("op"), "doc_id",
        *[F.lit(None).cast("long").alias(c) for c in mh_cols], env_null,
    )
    apply_batch(
        sig_table, sig_upserts.unionByName(sig_deletes), run_id="inc-sigs", epoch=0
    )
    return sig_table.read().select("doc_id", *mh_cols)


def _inc_sig_sql(k: int = 8) -> str:
    mins = ",\n       ".join(
        f"min({duck_phash('tok', f'mh{i}:')}) AS mh{i}" for i in range(k)
    )
    return f"""
WITH final_docs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' updated' ELSE text END AS text
  FROM documents WHERE doc_id % 13 <> 0
),
tok AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM final_docs)
  WHERE tok <> ''
)
SELECT doc_id, {mins} FROM tok GROUP BY doc_id
"""


# ------------------------------------------------- shards / mixture
def sample_assign_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SA.assign_shards(t(spark, sf_dir, "documents"), "doc_id", 8).select(
        "doc_id", "shard", "pos"
    )


ASSIGN_SHARDS_SQL = f"""
WITH h AS (SELECT doc_id, {duck_phash('doc_id', 'shard:')} AS h FROM documents)
SELECT doc_id, CAST(h % 8 AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - 1 AS INT) AS pos
FROM h
"""

_MIX_WEIGHTS = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
_MIX_DEFAULT = 0.05


def sample_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SA.mixture_sample(
        t(spark, sf_dir, "documents"),
        "source",
        _MIX_WEIGHTS,
        key_col="doc_id",
        default_fraction=_MIX_DEFAULT,
    ).select("doc_id", "source")


def _mixture_sql() -> str:
    cases = " ".join(
        f"WHEN '{g}' THEN {int(round(f * SA.HASH_MOD))}"
        for g, f in sorted(_MIX_WEIGHTS.items())
    )
    thr = f"CASE source {cases} ELSE {int(round(_MIX_DEFAULT * SA.HASH_MOD))} END"
    return f"""
SELECT doc_id, source FROM documents
WHERE ({duck_phash('doc_id', 'mix:')} % {SA.HASH_MOD}) < ({thr})
"""


# ------------------------------------------------- chunking
def sample_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (16-token chunks, 4-token overlap): narrow
    scan-speed JVM work; the last window is emitted short, tiny docs yield
    one chunk."""
    return SA.chunk_documents(t(spark, sf_dir, "documents"), 16, overlap=4)


# DuckDB replay of the same start grid: s in range(0, greatest(n-overlap,1), step)
CHUNK_SQL = """
WITH g AS (
  SELECT doc_id, string_split(text, ' ') AS toks, len(string_split(text, ' ')) AS n
  FROM documents
),
s AS (
  SELECT doc_id, n, unnest(range(0, greatest(n - 4, 1), 12)) AS st
  FROM g
)
SELECT s.doc_id,
       CAST(row_number() OVER (PARTITION BY s.doc_id ORDER BY st) - 1 AS INT) AS chunk_idx,
       CAST(least(16, s.n - st) AS INT) AS chunk_n_tokens,
       array_to_string(g.toks[st + 1 : st + 16], ' ') AS chunk_text
FROM s JOIN g USING (doc_id)
"""


QUERIES = {
    "dedup_exact_docs": (dedup_exact_docs, DEDUP_EXACT_SQL),
    "sample_chunk_documents": (sample_chunk_documents, CHUNK_SQL),
    "dedup_minhash_signatures": (dedup_minhash_signatures, _minhash_sig_sql(8)),
    "dedup_minhash_pairs": (dedup_minhash_pairs, _minhash_pairs_sql()),
    "dedup_components": (dedup_components, _components_sql()),
    "dedup_components_star": (dedup_components_star, _components_sql()),
    "dedup_keep_list": (dedup_keep_list, _keep_list_sql()),
    "dedup_jaccard_pairs": (dedup_jaccard_pairs, DEDUP_JACCARD_SQL),
    "dedup_jaccard3_pairs": (dedup_jaccard3_pairs, DEDUP_JACCARD3_SQL),
    "dedup_simhash_pairs": (dedup_simhash_pairs, DEDUP_SIMHASH_SQL),
    "dedup_simhash64_pairs": (dedup_simhash64_pairs, DEDUP_SIMHASH64_SQL),
    "dedup_embedding_cosine": (dedup_embedding_cosine, DEDUP_EMB_SQL),
    "ann_bruteforce_topk": (ann_bruteforce_topk, ANN_BRUTE_SQL),
    "ann_lsh_topk": (ann_lsh_topk, ANN_LSH_SQL),
    "ann_ivf_topk": (ann_ivf_topk, _ivf_sql()),
    "ann_ivf_joinpath_topk": (ann_ivf_joinpath_topk, _ivf_sql()),
    "ann_ivf_kmeans_topk": (ann_ivf_kmeans_topk, ANN_KMEANS_SQL),
    "dedup_embedding_kmeans": (dedup_embedding_kmeans, DEDUP_EMB_KMEANS_SQL),
    "dedup_embedding_keep_list": (dedup_embedding_keep_list, DEDUP_EMB_KEEP_SQL),
    "sample_leakage_safe_split": (sample_leakage_safe_split, _leakage_split_sql()),
    "sample_domain_token_cap": (sample_domain_token_cap, DOMAIN_CAP_SQL),
    "ann_ivf_recall": (ann_ivf_recall, ANN_RECALL_SQL),
    "sample_docs_by_hash": (sample_docs_by_hash, SAMPLE_HASH_SQL),
    "sample_stratified_docs": (sample_stratified_docs, SAMPLE_STRAT_SQL),
    "pack_training_sequences": (pack_training_sequences, PACK_SEQ_SQL),
    "dedup_incremental_signatures": (dedup_incremental_signatures, _inc_sig_sql(8)),
    "sample_assign_shards": (sample_assign_shards, ASSIGN_SHARDS_SQL),
    "sample_mixture_weights": (sample_mixture_weights, _mixture_sql()),
}
