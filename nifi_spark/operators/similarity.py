"""Similarity search over embedding columns (`array<float>`).

The paths a training-data pipeline needs at 100 TB:

- :func:`cosine_topk` — brute-force exact top-k: broadcast the query set,
  one pass over the corpus. Cost O(|corpus| × |queries|) but
  embarrassingly parallel.
- :func:`cosine_topk_lsh` — random-hyperplane LSH: deterministic
  pseudo-hyperplanes from md5 hashing, sign signature → bucket join →
  exact re-rank inside buckets. Sublinear candidate generation.
- :func:`cosine_topk_ivf` / :func:`pq_topk` / :func:`pq_topk_ivf` —
  IVF coarse cells bound WHICH vectors are scanned, PQ codes bound WHAT
  is read per candidate; composed they are the IVFADC shape of
  billion-vector ANN.

All rankers are two-phase (:func:`_partial_topk`): a map-side per-query
partial top-k bounds the final exchange to O(k · partitions · queries)
rows — no single-reducer-per-query hotspot, no full-candidate shuffle.

All vector math is `zip_with`/`aggregate` over array columns — JVM-side,
codegen'd, no Python. Doubles throughout; similarities rounded to 6 dp so
results are comparable across engines (the DuckDB oracle mirrors the
exact expression shape).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .dedup_fuzzy import md5_long


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _partial_topk(
    scored: DataFrame,
    k: int,
    order_col: str,
    ascending: bool,
    tie_col: str = "neighbor_id",
    group_col: str = "query_id",
) -> DataFrame:
    """Per-query partial top-k — phase one of two-phase ranking.

    A single ``row_number() OVER (PARTITION BY query_id)`` moves EVERY
    scored candidate through one keyed exchange and lands each query's
    full candidate set on ONE reducer task — at 10^9 corpus × 10^3
    queries that shuffle is the job. This stage cuts the candidate set to
    ≤k rows per (query, input partition) first — ``row_number() OVER
    (PARTITION BY query, spark_partition_id())`` filtered ≤ k — so the
    global window's input is O(k · partitions) rows per query and no
    single-reducer hotspot exists. The exchange moves all scored rows,
    but across query × partition keys (balanced), and the whole pipeline
    stays inside whole-stage codegen with no Python. The kept rows are a
    superset of the true global top-k (any global winner is a winner
    within its own partition under the same total order), so the
    downstream window produces identical rows/ranks regardless of input
    partitioning. No arithmetic happens here — scores computed upstream
    pass through unchanged, so value hashes are unaffected.
    """
    cols = scored.columns
    order = [
        F.col(order_col).asc() if ascending else F.col(order_col).desc(),
        F.col(tie_col).asc(),
    ]
    w = W.partitionBy(F.col(group_col), F.col("_ptk_pid")).orderBy(*order)
    return (
        scored.withColumn("_ptk_pid", F.spark_partition_id())
        .withColumn("_ptk_rn", F.row_number().over(w))
        .filter(F.col("_ptk_rn") <= k)
        .select(*cols)
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query vector (brute force, broadcast).

    Output: (query_id, neighbor_id, rank, cos_sim) — self-matches excluded.
    Ties break by neighbor id (deterministic). Two-phase ranking: map-side
    partial top-k (:func:`_partial_topk`), then the global per-query
    window over the ≤ k·partitions survivors.
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
        )
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", F.round(cosine(F.col("_qv"), F.col("_cv")), 6))
        .select("query_id", "neighbor_id", "cos_sim")
    )
    pruned = _partial_topk(scored, k, "cos_sim", ascending=False)
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


def _plane_const(p: int, dim: int) -> list[float]:
    """Hyperplane p's components as PYTHON doubles — the driver-side
    constant fold of the original Catalyst tree
    ``md5_long('hp|p|d') / 2^59 - 1``: Python ints/floats follow the same
    IEEE-754 ops, so each component is bit-identical to what the JVM
    would fold, but the plan carries one array literal instead of
    dim × (md5 + conv + substring + divide) nodes — at 32 planes × 64
    dims that tree was ~10k nodes of pure driver compile cost. The
    DuckDB oracle keeps reproducing the same values from the md5 recipe.
    Components in [-1,1); not gaussian, but sign-LSH only needs
    symmetric zero-mean components.
    """
    import hashlib

    return [
        int(hashlib.md5(f"hp|{p}|{d}".encode()).hexdigest()[:15], 16)
        / float(1 << 59)
        - 1.0
        for d in range(dim)
    ]


def _sig_expr(vec: Column, p0: int, n_planes: int, dim: int) -> Column:
    """Sign signature over planes [p0, p0+n_planes): bit i = 1 iff
    dot(vec, plane_{p0+i}) > 0 — ONE transform+fold over a 2D plane
    literal (same per-plane dot, same ascending bit-weight addition as
    the unrolled form; integer arithmetic, values identical)."""
    planes = F.lit([_plane_const(p0 + i, dim) for i in range(n_planes)])
    weights = F.lit([1 << i for i in range(n_planes)])
    terms = F.transform(
        F.sequence(F.lit(1), F.lit(n_planes)),
        lambda i: F.when(dot(vec, F.element_at(planes, i)) > 0,
                         F.element_at(weights, i)).otherwise(F.lit(0)),
    )
    return F.aggregate(terms, F.lit(0), lambda a, b: a + b).cast("long")


def _table_sigs(
    df: DataFrame, vec_col: str, n_tables: int, planes_per_table: int, dim: int
) -> DataFrame:
    """Explode each vector into (table, signature) rows — one signature per
    hash table, planes disjoint across tables (OR-amplification)."""
    entries = [
        F.struct(
            F.lit(t).alias("tbl"),
            _sig_expr(
                F.col(vec_col), t * planes_per_table, planes_per_table, dim
            ).alias("sig"),
        )
        for t in range(n_tables)
    ]
    return df.withColumn("_e", F.explode(F.array(*entries))).select(
        *df.columns, F.col("_e.tbl").alias("tbl"), F.col("_e.sig").alias("sig")
    )


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    planes_per_table: int = 4,
    dim: int = 64,
    n_planes: int | None = None,
) -> DataFrame:
    """Approximate top-k with OR-amplified sign-LSH: L hash tables of b
    planes each; a corpus vector is a candidate if it matches the query's
    signature in ANY table (standard LSH amplification — single-table sign
    match alone has poor recall on dense embeddings). Exact cosine re-rank
    over the candidate union.

    Cost: candidate generation is a bucket join of O(n·L) rows — never the
    O(n²) cross join; recall tunes with L (more tables) and bucket size
    with b (more planes per table). ``n_planes`` (legacy) maps to
    planes_per_table.
    """
    if n_planes is not None:
        planes_per_table = n_planes
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    qs = _table_sigs(q, "_qv", n_tables, planes_per_table, dim)
    cs = _table_sigs(c, "_cv", n_tables, planes_per_table, dim)
    cand = (
        qs.join(cs, on=["tbl", "sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "_qv", "_cv")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.withColumn(
        "cos_sim", F.round(cosine(F.col("_qv"), F.col("_cv")), 6)
    ).select("query_id", "neighbor_id", "cos_sim")
    pruned = _partial_topk(scored, k, "cos_sim", ascending=False)
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) coarse quantization — the k-means-cell scale path the
# LSH docstring promises. Centroids here are a deterministic pseudo-random
# md5 sample of the corpus (a real deployment would Lloyd-refine them; the
# cell assignment / probe / re-rank plumbing is identical and that plumbing
# is what must scale). Centroids are bounded (n_cells × dim floats — always
# driver-safe, exactly like trained IVF centroids shipped to executors), so
# assignment is a pure broadcast projection: NO shuffle over the corpus.
# ---------------------------------------------------------------------------


def _norm_py(cv: list[float]) -> float:
    """Driver-side centroid L2 norm, folding the EXACT expression shape of
    :func:`norm` (((0+x₀²)+x₁²)+… then sqrt): Python floats are IEEE-754
    doubles with the same per-op rounding as the JVM, so the literal is
    bit-identical to evaluating norm(lit(cv)) per row — which a HOF can't
    constant-fold, so it would otherwise burn dim mult-adds per row per
    centroid."""
    import math

    acc = 0.0
    for x in cv:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def _cell_scores(
    vec: Column,
    centroids: list[tuple[int, list[float]]],
    vec_norm: Column | None = None,
) -> Column:
    """Array of (cos, -cid) structs, one per centroid. Struct ordering
    gives argmax with smallest-cid tie-break via the negated id.

    ``vec_norm``: pass a pre-materialized ``norm(vec)`` column — Catalyst
    does not CSE HOF subtrees, so inlining norm(vec) here evaluates it
    once PER CENTROID (16× the work; see minhash_signature). Centroid
    norms are folded driver-side (:func:`_norm_py`) for the same reason.
    Same doubles, same op order — values are bit-identical either way."""
    vn = vec_norm if vec_norm is not None else norm(vec)
    # Deliberately UNROLLED (one struct per centroid), unlike the
    # 2D-literal transform collapse used for PQ codebooks and LSH planes:
    # collapsing to one outer transform leaves the materialized ``vn``
    # projection with a single lexical reference, so CollapseProject
    # inlines norm(vec) INTO the lambda and it re-evaluates per centroid
    # — the 16× norm recompute this parameter exists to avoid (same
    # failure mode as minhash_signature's note). The n_cells per-centroid
    # array literals are small leaves; the unrolled plan stays cheap.
    return F.array(
        *[
            F.struct(
                (dot(vec, F.lit([float(x) for x in cv]))
                 / (vn * F.lit(_norm_py(cv)))).alias("s"),
                F.lit(-cid).cast("long").alias("n"),
            )
            for cid, cv in centroids
        ]
    )


def ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed_tag: str = "ivf",
) -> list[tuple[int, list[float]]]:
    """Deterministic coarse centroids: the ``n_cells`` corpus vectors with
    smallest ``md5_long(seed_tag|id)`` (a seeded sample; oracle:
    ``ORDER BY ('0x' || substr(md5('ivf|' || id), 1, 15))::BIGINT LIMIT n``).
    """
    rows = (
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .orderBy(
            md5_long(F.concat(F.lit(seed_tag + "|"), F.col("cid").cast("string"))),
            F.col("cid"),
        )
        .limit(n_cells)
        .collect()
    )
    return [(r.cid, [float(x) for x in r.cv]) for r in rows]


def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """Assign every vector to its max-cosine centroid (cell). Pure
    projection — the centroid list is compiled into the expression; the
    row's norm is materialized once (not per centroid)."""
    from .dedup_fuzzy import _guard_internal

    _guard_internal(df, ["_ivf_vn"], "ivf_assign")
    best = F.array_max(
        _cell_scores(F.col(vec_col), centroids, F.col("_ivf_vn"))
    )
    return (
        df.withColumn("_ivf_vn", norm(F.col(vec_col)))
        .withColumn(out_col, (-best["n"]).cast("long"))
        .drop("_ivf_vn")
    )


def lloyd_refine(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    iters: int = 1,
) -> list[tuple[int, list[float]]]:
    """Refine coarse seeds with spherical k-means (Lloyd) iterations:
    assign every corpus vector to its max-cosine centroid, recompute each
    cell's centroid as the element-wise mean, L2-normalized (the
    cosine-metric variant). Deterministic given the md5-sampled seeds
    (``ivf_centroids``) — means are order-insensitive, ties break on cid.

    Scale: each iteration is ONE hash aggregation over the corpus with
    ``dim`` avg() columns — no explode, no shuffle beyond the agg, no
    per-row Python; the centroid list stays driver-side bounded
    (n_cells × dim floats), exactly like trained IVF centroids shipped
    to executors. An empty cell keeps its previous centroid.
    """
    import math

    dim = len(centroids[0][1])
    for _ in range(iters):
        assigned = ivf_assign(
            corpus.select(F.col(vec_col).alias("_v")), centroids, "_v", "cell"
        )
        rows = (
            assigned.groupBy("cell")
            .agg(
                F.array(
                    *[F.avg(F.element_at(F.col("_v"), i + 1)) for i in range(dim)]
                ).alias("m")
            )
            .collect()
        )
        means = {r["cell"]: r["m"] for r in rows}
        new: list[tuple[int, list[float]]] = []
        for cid, cv in centroids:
            m = means.get(cid)
            if m is None:
                new.append((cid, cv))
                continue
            nrm = math.sqrt(sum(x * x for x in m)) or 1.0
            new.append((cid, [float(x) / nrm for x in m]))
        centroids = new
    return centroids


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    nprobe: int = 4,
    seed_tag: str = "ivf",
    lloyd_iters: int = 0,
) -> DataFrame:
    """Approximate top-k via IVF: corpus vectors are bucketed into
    ``n_cells`` coarse cells (one argmax projection); each query probes
    its ``nprobe`` nearest cells; exact cosine re-rank inside the probed
    cells only. Candidate generation is a bucket equi-join of
    O(n · nprobe / n_cells) expected rows — never the O(n²) cross join —
    and recall tunes with ``nprobe``. Skewed cells degrade gracefully:
    the join key is the cell id, so AQE skew-join splitting applies.

    ``lloyd_iters > 0`` refines the md5-sampled seeds with spherical
    k-means passes (:func:`lloyd_refine`) before assignment — tighter
    cells, better recall at the same nprobe, one extra corpus agg per
    iteration. The default 0 keeps the centroid derivation closed-form
    (exactly reproducible in the DuckDB oracle).

    Output: (query_id, neighbor_id, rank, cos_sim), self-matches excluded.
    """
    centroids = ivf_centroids(corpus, id_col, vec_col, n_cells, seed_tag)
    if lloyd_iters:
        centroids = lloyd_refine(corpus, centroids, vec_col, lloyd_iters)
    c = ivf_assign(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")),
        centroids,
        "_cv",
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    # nprobe nearest cells: sort the (cos, -cid) structs descending —
    # largest cos first, ties -> largest -cid = smallest cid
    probed = q.withColumn("_qn", norm(F.col("_qv"))).withColumn(
        "cell",
        F.explode(
            F.transform(
                F.slice(
                    F.sort_array(
                        _cell_scores(F.col("_qv"), centroids, F.col("_qn")),
                        asc=False,
                    ),
                    1,
                    nprobe,
                ),
                lambda e: -e["n"],
            )
        ),
    ).drop("_qn")
    cand = (
        probed.join(c, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "_qv", "_cv")
    )
    scored = cand.withColumn(
        "cos_sim", F.round(cosine(F.col("_qv"), F.col("_cv")), 6)
    ).select("query_id", "neighbor_id", "cos_sim")
    pruned = _partial_topk(scored, k, "cos_sim", ascending=False)
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_sim")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-side half of billion-scale ANN
# (IVF narrows the search, PQ compresses the vectors: codes are m bytes
# instead of dim floats, and distances come from per-query lookup tables).
# Codebooks are md5-sampled like ivf_centroids, so encoding and ADC are
# bit-reproducible by the oracle.
# ---------------------------------------------------------------------------


def pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_codes: int = 16,
    m: int = 4,
    seed_tag: str = "pq",
) -> list[list[list[float]]]:
    """``codebooks[j][code]`` = subvector ``j`` of the ``code``-th sampled
    corpus vector, codes ordered by ``md5_long('pq|'||id)`` (deterministic
    sample; oracle: ``row_number() OVER (ORDER BY md5-rank, id) - 1``).
    Driver-side bounded: n_codes × dim floats, like trained codebooks
    shipped to executors."""
    rows = (
        corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .orderBy(
            md5_long(F.concat(F.lit(seed_tag + "|"), F.col("cid").cast("string"))),
            F.col("cid"),
        )
        .limit(n_codes)
        .collect()
    )
    dim = len(rows[0].cv)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        [[float(x) for x in r.cv[j * sub : (j + 1) * sub]] for r in rows]
        for j in range(m)
    ]


def _l2sq_sub(vec: Column, off: int, codeword: list[float]) -> Column:
    """Ordered left-fold Σ (v[off+i] − c_i)² — the oracle folds the same
    ascending-i order, so the double is bit-identical.

    Expressed as aggregate(zip_with(slice(vec), codeword-literal)) rather
    than an unrolled per-term chain: the unrolled form inlines every
    codeword component into the plan (~8k expression nodes for a 16×4
    codebook), which cost ~13 s of DRIVER-side Catalyst
    optimize/codegen time per query — two orders of magnitude more than
    executing it. The HOF form keeps each codeword as ONE array literal
    leaf; the fold is the same ascending (((0+t₀²)+t₁²)+…) double chain
    (zip_with materialises tᵢ² in index order, aggregate folds left), so
    results are bit-identical and the DuckDB oracle hash is unchanged."""
    sub = len(codeword)
    terms = F.zip_with(
        F.slice(vec, off + 1, sub),
        F.lit([float(c) for c in codeword]),
        lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
    )
    return F.aggregate(terms, F.lit(0.0), lambda acc, v: acc + v)


def _l2sq_sub_col(vec: Column, off: int, cw: Column, sub: int) -> Column:
    """:func:`_l2sq_sub` with the codeword as a Column (an element_at of
    a 2D codebook literal) — same zip_with order, same ascending fold,
    bit-identical doubles; lets one ``transform`` replace n_codes inlined
    folds (n_codes× smaller plan, see _cell_scores)."""
    terms = F.zip_with(
        F.slice(vec, off + 1, sub),
        cw,
        lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
    )
    return F.aggregate(terms, F.lit(0.0), lambda acc, v: acc + v)



def _lut_array(vec: Column, j: int, codebooks, sub: int) -> Column:
    """ADC lookup table for subspace ``j`` as ONE transform over the 2D
    codebook literal (LUT[code] in code order, exactly the per-codeword
    array the inlined form produced — n_codes× smaller plan)."""
    cb = F.lit([[float(c) for c in cw] for cw in codebooks[j]])
    return F.transform(
        F.sequence(F.lit(1), F.lit(len(codebooks[j]))),
        lambda i: _l2sq_sub_col(vec, j * sub, F.element_at(cb, i), sub),
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Quantize each vector to ``m`` codes (argmin-L2 codeword per
    subspace, ties → smallest code). Pure projection — the codebook is
    compiled into the expression as array literals; NO shuffle over the
    corpus."""
    m, sub = len(codebooks), len(codebooks[0][0])

    def scored_for(j: int) -> Column:
        # one transform over the subspace's 2D codebook literal — not
        # n_codes inlined folds (16× smaller plan, identical doubles).
        # NOTE: must close over j/cb via this factory — a default-arg
        # lambda counts as multi-arg to pyspark's HOF arity inspection.
        cb = F.lit([[float(c) for c in cw] for cw in codebooks[j]])
        return F.transform(
            F.sequence(F.lit(1), F.lit(len(codebooks[j]))),
            lambda i: F.struct(
                _l2sq_sub_col(F.col(vec_col), j * sub, F.element_at(cb, i), sub)
                .alias("d"),
                (i - 1).cast("int").alias("c"),
            ),
        )

    codes = [F.array_min(scored_for(j))["c"] for j in range(m)]
    return df.withColumn(out_col, F.array(*codes))


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_codes: int = 16,
    m: int = 4,
    seed_tag: str = "pq",
    refine: int | None = None,
) -> DataFrame:
    """Approximate top-k by asymmetric distance (ADC): corpus vectors are
    PQ codes; each query's distance to a corpus vector is the sum of its
    exact subspace distances to that vector's codewords. The scan touches
    only the m-byte codes (broadcast query side, no shuffle before the
    final per-query top-k) — the memory/IO shape that makes billion-vector
    ANN feasible; compose with IVF cells for sublinear candidates.

    ``refine=R`` adds the standard second stage: shortlist R by ADC, then
    exact-L2 re-rank of just those R true vectors (the quality knob —
    pure ADC ranking degrades on tightly-spaced corpora where the
    quantization error exceeds the neighbor margins).

    Output: (query_id, neighbor_id, rank, adc) — adc ascending (smaller =
    closer; exact L2² when refined), rounded to 6 dp for cross-engine
    comparability."""
    codebooks = pq_codebooks(corpus, id_col, vec_col, n_codes, m, seed_tag)
    sub = len(codebooks[0][0])
    enc = pq_encode(corpus, codebooks, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "pq_codes"
    )
    # Per-query distance lookup tables — the standard ADC formulation:
    # the n_codes × m subspace distances are computed ONCE per query
    # (this projection, over the tiny query side), so the corpus scan
    # pays m array lookups + (m-1) adds per pair instead of re-deriving
    # dim subtract-square terms per pair (which would cost the same
    # arithmetic as the exact scan and forfeit PQ's point). Each LUT
    # entry folds i ascending and the scan sums j ascending — the exact
    # order of the inline formulation, so the doubles are bit-identical
    # and the DuckDB oracle hash is unchanged.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        *[
            _lut_array(F.col(vec_col), j, codebooks, sub).alias(f"_lut{j}")
            for j in range(m)
        ],
    )
    joined = enc.crossJoin(F.broadcast(q)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    dist = F.lit(0.0)
    for j in range(m):
        dist = dist + F.element_at(
            F.col(f"_lut{j}"), F.element_at(F.col("pq_codes"), j + 1) + 1
        )
    scored = joined.select(
        "query_id", "neighbor_id", F.round(dist, 6).alias("adc")
    )
    # two-phase: the full-corpus ADC scan produces O(n·q) scored rows;
    # cut to ≤(refine or k) per query per map partition before the
    # global window so the exchange never carries the whole scan
    pruned = _partial_topk(scored, refine or k, "adc", ascending=True)
    w = W.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    ranked = (
        pruned.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= (refine or k))
        .select("query_id", "neighbor_id", "rank", "adc")
    )
    if refine is None:
        return ranked
    # exact re-rank of the ADC shortlist: only R × |queries| true vectors
    # are touched — the shortlist join is broadcastable
    cand = ranked.drop("rank", "adc")
    cv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    exact = (
        cand.join(cv, "neighbor_id").join(F.broadcast(qv), "query_id")
        .select(
            "query_id", "neighbor_id",
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("qv"), F.col("cv"),
                        lambda x, y: (x.cast("double") - y.cast("double"))
                        * (x.cast("double") - y.cast("double")),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                6,
            ).alias("adc"),
        )
    )
    return (
        exact.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc")
    )


def pq_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    nprobe: int = 4,
    n_codes: int = 16,
    m: int = 4,
    seed_tag_ivf: str = "ivf",
    seed_tag_pq: str = "pq",
) -> DataFrame:
    """IVF × PQ composed — the billion-vector ANN shape (FAISS IVFADC):
    coarse cells bound WHICH vectors are scanned (O(n · nprobe / n_cells)
    candidates, a bucket equi-join, never the full corpus), PQ codes
    bound WHAT is read per candidate (m bytes + m LUT lookups, no
    dim-float arithmetic). Both halves reuse the oracle-reproducible
    md5-sampled constructions of :func:`cosine_topk_ivf` and
    :func:`pq_topk`; ranking is two-phase (:func:`_partial_topk`).

    Output: (query_id, neighbor_id, rank, adc) — ADC ascending, ties by
    neighbor id.
    """
    centroids = ivf_centroids(corpus, id_col, vec_col, n_cells, seed_tag_ivf)
    codebooks = pq_codebooks(corpus, id_col, vec_col, n_codes, m, seed_tag_pq)
    sub = len(codebooks[0][0])
    enc = pq_encode(
        ivf_assign(
            corpus.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
            ),
            centroids,
            "_cv",
        ),
        codebooks,
        "_cv",
    ).select("neighbor_id", "cell", "pq_codes")
    # LUTs are computed BELOW the cell explode so they ride the Generate
    # as plain attributes: selected after/next to the explode they land in
    # the Project above the Generate, where Catalyst re-evaluates the
    # m×n_codes aggregate trees once per PROBED CELL instead of once per
    # query (nprobe× redundant LUT work; same trap as decontaminate's
    # size+explode — see that docstring).
    probed = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
        .withColumn("_qn", norm(F.col("_qv")))
        .select(
            "query_id",
            "_qv",
            "_qn",
            *[
                _lut_array(F.col("_qv"), j, codebooks, sub).alias(f"_lut{j}")
                for j in range(m)
            ],
        )
        .withColumn(
            "cell",
            F.explode(
                F.transform(
                    F.slice(
                        F.sort_array(
                            _cell_scores(F.col("_qv"), centroids, F.col("_qn")),
                            asc=False,
                        ),
                        1,
                        nprobe,
                    ),
                    lambda e: -e["n"],
                )
            ),
        )
        .select("query_id", "cell", *[f"_lut{j}" for j in range(m)])
    )
    joined = enc.join(F.broadcast(probed), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    dist = F.lit(0.0)
    for j in range(m):
        dist = dist + F.element_at(
            F.col(f"_lut{j}"), F.element_at(F.col("pq_codes"), j + 1) + 1
        )
    scored = joined.select("query_id", "neighbor_id", F.round(dist, 6).alias("adc"))
    pruned = _partial_topk(scored, k, "adc", ascending=True)
    w = W.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    return (
        pruned.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc")
    )


# ---------------------------------------------------------------------------
# Embedding-space near-duplicate detection: the semantic arm of the dedup
# family (dedup_fuzzy covers lexical minhash/simhash/jaccard). Same LSH
# machinery as cosine_topk_lsh, but a SELF-join shape with the dedup
# guards of dedup_fuzzy.lsh_pairs.
# ---------------------------------------------------------------------------


def cosine_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_tables: int = 8,
    planes_per_table: int = 8,
    dim: int = 64,
    max_bucket: int = 256,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine: candidates from
    OR-amplified sign-LSH self-buckets, exact cosine filter >= threshold.

    Returns ``(id_a, id_b, cos_sim)`` with id_a < id_b, cos rounded to 6.

    Scale shape: explode to (table, signature) rows — O(n·L) — group to
    buckets, pair only within buckets. Buckets larger than ``max_bucket``
    are dropped (the lsh_pairs quadratic-bomb guard: with b planes a
    degenerate bucket means the region is dense; those pairs belong to a
    coarser clustering pass, not a pairwise join). Candidate pairs then
    join the vectors back by id — two hash joins, no O(n²) stage anywhere.
    """
    base = df.select(F.col(id_col), F.col(vec_col))
    sigs = _table_sigs(base.select(id_col, vec_col), vec_col, n_tables, planes_per_table, dim)
    buckets = (
        sigs.groupBy("tbl", "sig")
        .agg(F.sort_array(F.collect_set(id_col)).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )
    pairs = (
        buckets.select(F.explode("ids").alias("id_a"), F.col("ids"))
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    a = base.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = base.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    scored = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cos_sim", F.round(cosine(F.col("_va"), F.col("_vb")), 6))
        .filter(F.col("cos_sim") >= threshold)
    )
    return scored.select("id_a", "id_b", "cos_sim")
