"""Similarity search over embedding columns (array<float>).

Two paths:

* brute-force cosine top-k — the exactness baseline.  All math in
  DOUBLE via sequential array folds (F.zip_with + F.aggregate), so
  results are deterministic and oracle-reproducible.  Queries side is
  broadcast; the corpus is scanned once — at 100 TB this is a single
  pass, no shuffle until the per-query top-k.

* LSH-bucketed ANN — random-hyperplane signs form a bucket key;
  candidates come from an equi-join on the bucket (plus optional
  multi-probe), then exact rerank.  Hyperplanes are derived
  deterministically from md5, so runs are reproducible without a
  stored model.
"""

from __future__ import annotations

import hashlib
from typing import List, Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType

from .partitioning import spread


# The type ``functions.lit`` gives a primitive JVM array: ``ArrayType``
# with ``containsNull=true``.  The parsed ``array(…)`` fallback is cast
# to the same type (a legal nullability widening), so a plan's schema
# does not depend on which path built its literals.
_LITERAL_TYPES = {
    "double": ArrayType(DoubleType(), containsNull=True),
    "int": ArrayType(IntegerType(), containsNull=True),
}


def _jvm_array_literal(values, kind: str) -> "F.Column | None":
    """ONE catalyst ``Literal`` node holding the whole array, built by
    shipping the values to the JVM as raw bytes (r14, VERDICT r13
    item 6 — the typedLit-equivalent bridge).

    The parsed ``array(…)`` form is one py4j round-trip but the tree
    it yields is a ``CreateArray`` with N child ``Literal`` nodes that
    every analyzer/optimizer pass re-walks — measured ~0.4 s of
    analysis per persisted-ANN call for the m·K·sub ADC codebook
    alone.  A single ``Literal(ArrayData)`` node is O(1) to walk.

    Transport: IEEE-754 bytes → ``byte[]`` (py4j sends bytes as one
    binary frame) → ``ByteBuffer`` view → bulk-``get`` into a
    primitive JVM array → ``functions.lit`` (whose ``Literal.apply``
    accepts primitive arrays since Spark 2.4).  Raw-bit transport, so
    values are bit-exact by construction.  ~5 py4j calls total,
    independent of N.

    Returns None when no classic JVM gateway is reachable (Spark
    Connect) — callers fall back to the parsed form."""
    import struct

    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None or getattr(sc, "_gateway", None) is None:
        return None
    try:
        gw = sc._gateway
        n = len(values)
        if kind == "double":
            payload = struct.pack(f">{n}d", *values)
            jarr = gw.new_array(gw.jvm.double, n)
            gw.jvm.java.nio.ByteBuffer.wrap(payload).asDoubleBuffer().get(jarr)
        elif kind == "int":
            payload = struct.pack(f">{n}i", *values)
            jarr = gw.new_array(gw.jvm.int, n)
            gw.jvm.java.nio.ByteBuffer.wrap(payload).asIntBuffer().get(jarr)
        else:  # pragma: no cover - internal misuse
            raise ValueError(kind)
        from pyspark.sql.column import Column

        return Column(gw.jvm.org.apache.spark.sql.functions.lit(jarr))
    except Exception:  # pragma: no cover - defensive: parse instead
        return None


def _lit_double_array(values) -> "F.Column":
    """The model-matrix array literal (centroids, PQ codebooks:
    thousands of doubles).

    History of this hot spot: per-element ``F.array(*[F.lit(x) …])``
    cost one py4j round-trip per element (~5 s of driver time per
    persisted-ANN call at dim=64); the parsed ``array(…D, …D)`` string
    cut that to ONE round-trip but still yielded an N-child
    ``CreateArray`` the analyzer re-walks on every Dataset op (~0.4 s
    per call for the ADC codebook); r14 ships the values as ONE
    ``Literal`` node via :func:`_jvm_array_literal`.  Bit-exact in
    every form: the Literal path transports raw IEEE-754 bytes, and
    the parse fallback renders ``repr(float)`` (shortest round-trip,
    ``Double.parseDouble`` returns identical bits), so plans, results,
    and DuckDB oracle replays are unchanged."""
    vals = [float(x) for x in values]
    import math

    for v in vals:
        if not math.isfinite(v):
            # same loud-failure contract as _dlit, independent of path
            raise ValueError(
                f"non-finite model value {v!r} cannot ride the plan as "
                "a literal — check the training corpus for NaN/Inf "
                "embeddings"
            )
    lit = _jvm_array_literal(vals, "double")
    if lit is not None:
        return lit
    return F.expr(
        "array(" + ",".join(_dlit(x) for x in vals) + ")"
    ).cast(_LITERAL_TYPES["double"])


def _dlit(x) -> str:
    """Render one finite double as a parseable SQL literal.  Non-finite
    values would render as unparseable 'NAND'/'INFD' tokens — and a
    NaN inside a trained model matrix means the training data was
    broken, so fail loudly at plan-build time instead."""
    import math

    v = float(x)
    if not math.isfinite(v):
        raise ValueError(
            f"non-finite model value {v!r} cannot ride the plan as a "
            "literal — check the training corpus for NaN/Inf embeddings"
        )
    return repr(v).upper() + "D"


def _qcol(name: str) -> str:
    """Render a column name for safe interpolation into an F.expr
    string, matching F.col's dotted-path semantics: each dot-separated
    segment is backtick-quoted, so reserved words and names with
    spaces parse, and 'a.b' still means field b of column a.  Literal
    backticks inside a segment are escaped by doubling (the SQL quoted-
    identifier rule), so a name containing ` cannot break out of the
    quoting and misparse the surrounding F.expr (ADVICE r11)."""
    return ".".join(
        "`" + seg.replace("`", "``") + "`" for seg in str(name).split(".")
    )


def _lit_int_array(values) -> "F.Column":
    """One ``array<int>`` literal — a single ``Literal`` node via the
    JVM bridge where reachable, else the parsed ``array(1, 2, …)``
    form (same rationale and bit-exactness as
    :func:`_lit_double_array`; int values have no rendering hazard)."""
    vals = [int(x) for x in values]
    lit = _jvm_array_literal(vals, "int")
    if lit is not None:
        return lit
    return F.expr("array(" + ",".join(str(x) for x in vals) + ")").cast(
        _LITERAL_TYPES["int"]
    )


def _dot(a, b, dim: Optional[int] = None):
    """Sequential double-precision dot product of two array columns.

    With ``dim`` (the fixed embedding dimensionality — known from the
    table contract), the product unrolls to ``dim`` inline
    multiply-add terms that stay inside whole-stage codegen.  Without
    it, the generic aggregate/zip_with fold is a CodegenFallback
    expression: per-row interpreted evaluation plus a zipped-array
    allocation — measured 135 s → ~30 s on the sf3 embedding verify
    join (1.3M candidate pairs).  Both forms sum left-to-right in
    index order, so the doubles are bit-identical and the DuckDB
    oracles keep matching.

    A wrong ``dim`` fails LOUDLY in both SQL modes: under ANSI,
    element_at raises out-of-bounds; under default mode element_at
    would return NULL — every cosine silently NULL, threshold filters
    dropping all rows (ADVICE r5) — so an assert_true size guard is
    folded into the sum (NULL when it passes, coalesced to +0.0; a
    per-row length read, negligible next to the multiply-adds).  NULL
    arrays keep their pre-guard semantics: dot is NULL, row drops at
    the threshold filter.
    """
    if dim is not None:
        if isinstance(a, str) and isinstance(b, str):
            # named columns: ONE parsed SQL expression instead of
            # ~6·dim py4j round-trips (same economy as _proj /
            # _lit_double_array); SQL + is left-associative so the
            # sum order and doubles are unchanged
            qa, qb = _qcol(a), _qcol(b)
            terms = " + ".join(
                f"CAST(element_at({qa}, {i}) AS DOUBLE)"
                f" * CAST(element_at({qb}, {i}) AS DOUBLE)"
                for i in range(1, dim + 1)
            )
            guard = (
                f"coalesce(CAST(assert_true(({qa} IS NULL) OR ({qb} IS NULL)"
                f" OR (size({qa}) = {dim} AND size({qb}) = {dim}),"
                f" '_dot: embedding array is not the contracted dim={dim}')"
                f" AS DOUBLE), 0.0D)"
            )
            return F.expr(f"{terms} + {guard}")
        t = F.element_at(a, 1).cast("double") * F.element_at(b, 1).cast("double")
        for i in range(2, dim + 1):
            t = t + (
                F.element_at(a, i).cast("double")
                * F.element_at(b, i).cast("double")
            )
        guard = F.assert_true(
            a.isNull() | b.isNull()
            | ((F.size(a) == dim) & (F.size(b) == dim)),
            f"_dot: embedding array is not the contracted dim={dim}",
        )
        return t + F.coalesce(guard.cast("double"), F.lit(0.0))
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a, b):
    return _dot(a, b) / F.nullif(_norm(a) * _norm(b), F.lit(0.0))


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: Optional[int] = None,
) -> DataFrame:
    """For each query vector: top-k corpus neighbors by cosine.

    Output: (q_id, n_id, cos, rank).  Ties broken by neighbor id.
    Scale: broadcast the queries, single corpus scan, per-query top-k
    via window (WindowGroupLimit pushes the k-filter before the
    shuffle)."""
    # Norms are precomputed per side (once per vector, not once per
    # pair) and an under-parallel (few-file) corpus is spread across
    # cores before the O(queries × corpus) scoring join — a no-op at
    # real scale (operators/partitioning.py).
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
    )
    c = spread(corpus, id_col).select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        _norm(F.col(vec_col)).alias("n_norm"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("q_id") != F.col("n_id"))
        .withColumn(
            "cos",
            F.round(
                _dot(F.col("q_vec"), F.col("n_vec"))
                / F.nullif(F.col("q_norm") * F.col("n_norm"), F.lit(0.0)),
                6,
            ),
        )
        .select("q_id", "n_id", "cos")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplanes(n_planes: int, dim: int, tag: str = "plane") -> List[List[float]]:
    """Deterministic pseudo-random hyperplanes from md5 — reproducible
    across runs/engines with no stored model.  ``tag`` namespaces the
    stream (seeded variants draw independent planes)."""
    planes = []
    for p in range(n_planes):
        w = []
        for i in range(dim):
            h = hashlib.md5(f"{tag}:{p}:{i}".encode()).hexdigest()
            w.append((int(h[:8], 16) / 0xFFFFFFFF) * 2.0 - 1.0)
        planes.append(w)
    return planes


def _proj(vec_name: str, plane: List[float]):
    """Σ vec[i]·w_i with the plane weights inlined as double literals
    — stays in whole-stage codegen.  The aggregate/zip_with fold it
    replaces is a CodegenFallback expression (interpreted per row +
    a zipped-array allocation per plane).  Sum order matches the
    fold's exactly: the fold starts from 0.0 and 0.0 + x == x in
    IEEE, so signs (all any consumer uses) and values are
    bit-identical.  Takes the vector column's NAME and builds ONE
    parsed SQL expression: the old per-term Column arithmetic cost
    3·dim py4j round-trips per plane (seconds of driver time per
    16-plane LSH query at dim=64 — see _lit_double_array); SQL's
    ``+`` is left-associative, so the parsed sum keeps the exact
    term order and the doubles stay bit-identical."""
    q = _qcol(vec_name)
    terms = " + ".join(
        f"CAST(element_at({q}, {i + 1}) AS DOUBLE) * {_dlit(w)}"
        for i, w in enumerate(plane)
    )
    return F.expr(terms)


def lsh_bucket(vec_name: str, planes: List[List[float]]):
    """Sign-pattern bucket id for a named vector column under the
    planes."""
    bucket = F.lit(0)
    for p_idx, plane in enumerate(planes):
        proj = _proj(vec_name, plane)
        bucket = bucket + F.when(proj > 0, F.lit(1 << p_idx)).otherwise(F.lit(0))
    return bucket


def _probe_masks(n_planes: int, n_bits: int) -> List[int]:
    """XOR masks for multi-probe: all bit patterns with ≤ n_bits set.
    (Round-2 bug: patterns stopped at 2 bits, silently capping
    probe_bits=3 at the probe_bits=2 bucket set.)"""
    import itertools

    masks = [0]
    for k in range(1, min(n_bits, n_planes) + 1):
        for combo in itertools.combinations(range(n_planes), k):
            m = 0
            for b in combo:
                m |= 1 << b
            masks.append(m)
    return masks


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    dim: int = 64,
    probe_bits: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe ANN: the query probes every bucket within Hamming
    ``probe_bits`` of its own hyperplane-sign bucket, candidates are
    exact-cosine reranked.  Recall < 1 by construction (pytest asserts
    ≥ 0.8 vs brute force at k=5, sf0.1); probe_bits trades recall
    against the fraction of buckets touched (≤3 bits of 6 planes ⇒
    42/64 ≈ 66%).  The test embeddings are near-uniform random (mean
    norm ≈0.02 of vector norm) — the adversarial case for hyperplane
    LSH, where top-5 cosine neighbors barely separate from the bulk;
    clustered real-world embeddings reach the same recall at a much
    smaller probed fraction, so treat the default as the floor, not
    the tuning target.
    Scale: the corpus partitions by bucket — each query's probes hit a
    bounded bucket subset instead of the full scan; more planes ⇒
    finer buckets for bigger corpora."""
    planes = _hyperplanes(n_planes, dim)
    masks = _probe_masks(n_planes, probe_bits)
    c = spread(corpus, id_col).select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        lsh_bucket(vec_col, planes).alias("bucket"),
    )
    # base bucket computed ONCE per query row; probes are constant XOR
    # masks over it (computing lsh_bucket per mask re-evaluates
    # n_masks × n_planes array folds — measured 4× slower)
    q = (
        queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_vec"),
            lsh_bucket(vec_col, planes).alias("base_bucket"),
        )
        .select(
            "q_id",
            "q_vec",
            F.explode(F.array(*[F.lit(m) for m in masks])).alias("probe_mask"),
            F.col("base_bucket"),
        )
        .select(
            "q_id",
            "q_vec",
            F.col("base_bucket").bitwiseXOR(F.col("probe_mask")).alias("bucket"),
        )
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn("cos", F.round(cosine(F.col("q_vec"), F.col("n_vec")), 6))
        .select("q_id", "n_id", "cos")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    )


def _kmeans_centroids(sample_vecs, n_cells: int, iters: int = 10):
    """Deterministic Lloyd k-means on a driver-side sample (numpy).
    Centroids are a model artifact: K·dim floats, tiny — the classic
    IVF pattern trains them on a sample and broadcasts them."""
    import numpy as np

    X = np.asarray(sample_vecs, dtype=np.float64)
    idx = np.linspace(0, len(X) - 1, n_cells).astype(int)  # strided init
    C = X[idx].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(n_cells):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return C


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 32,
    n_probe: int = 12,
    sample_size: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat ANN: k-means cells over a sample, corpus partitioned by
    nearest cell, queries probe their n_probe nearest cells, exact
    cosine rerank inside the probed cells.

    Defaults (32 cells, 12 probed, 2048-vector training sample, 10
    Lloyd iterations) measure recall ≈0.88 vs brute-force top-5 on the
    sf0.1 embeddings while scanning ≈38% of the corpus (pytest asserts
    ≥0.8 and logs the scanned fraction); the training sample and extra
    iterations matter more than cell count on this near-uniform data.

    Scale: the corpus shuffles once on cell id (and would be *stored*
    bucketed by cell in a real deployment); each query scans
    n_probe/n_cells of the data.  Centroids are O(cells·dim) — a
    broadcast literal, no model store needed."""
    sample = (
        corpus.orderBy(id_col).limit(sample_size).select(vec_col).collect()
    )
    C = _kmeans_centroids([r[0] for r in sample], n_cells)

    def nearest_cells(vec_col_expr, n: int):
        return _nearest_cells_expr(C, vec_col_expr, n)

    c_assigned = corpus.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        _norm(F.col(vec_col)).alias("n_norm"),
        F.element_at(nearest_cells(F.col(vec_col), 1), 1).alias("cell"),
    )
    # outer explode: the probe list is a computed array (full centroid
    # distance scan) — inner explode's inferred size-filter would
    # re-evaluate it per row (functions.explode_computed); the slice
    # is never empty, so this is a drop-in
    q_probes = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
        F.explode_outer(nearest_cells(F.col(vec_col), n_probe)).alias("cell"),
    )
    scored = (
        c_assigned.join(F.broadcast(q_probes), "cell")
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn(
            "cos",
            F.round(
                _dot(F.col("q_vec"), F.col("n_vec"))
                / F.nullif(F.col("q_norm") * F.col("n_norm"), F.lit(0.0)),
                6,
            ),
        )
        .select("q_id", "n_id", "cos")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _cell_dists_expr(C, vec_col_expr):
    """Column expr: array of squared-L2 distances from a vector column
    to every centroid of ``C`` (riding the plan as literals)."""
    return F.array(
        *[
            F.aggregate(
                F.zip_with(
                    vec_col_expr,
                    _lit_double_array(C[c]),
                    lambda x, w: (x.cast("double") - w) * (x.cast("double") - w),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            for c in range(len(C))
        ]
    )


def _nearest_cells_expr(C, vec_col_expr, n: int):
    """Column expr: array of the ``n`` nearest cell ids (by L2) to a
    vector column, against centroid matrix ``C`` riding the plan as
    literals — the IVF routing expression, shared by the flat and
    IVF+PQ variants."""
    dists = _cell_dists_expr(C, vec_col_expr)
    ranked = F.transform(
        F.array_sort(
            F.arrays_zip(dists, _lit_int_array(range(len(C))))
        ),
        lambda s: s["1"],
    )
    return F.slice(ranked, 1, n)


def _nearest_cells_py(C, vec, n: int) -> List[int]:
    """Driver-side replay of :func:`_nearest_cells_expr`, bit-exact.

    Same arithmetic in the same order as the codegen fold — squared
    deltas accumulated left-to-right from 0.0 per cell — and the same
    (distance, cell-id) ranking as array_sort over the zipped structs,
    so the cell set this returns is IDENTICAL to what the plan
    expression routes to.  Used to compute bucket-prune sets for a
    bounded query frame WITHOUT running a Spark job whose plan carries
    the full routing expression (analysis of 32 aggregate folds over
    literal arrays cost ~2.5 s per persisted-ANN call — more than the
    query's actual execution)."""
    dists = []
    for c in range(len(C)):
        row = C[c]
        acc = 0.0
        for i in range(len(row)):
            d = float(vec[i]) - float(row[i])
            acc = acc + d * d
        dists.append((acc, c))
    dists.sort()
    return [c for _, c in dists[:n]]


def kmeans_assign(
    corpus: DataFrame,
    n_cells: int = 32,
    sample_size: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic clustering of an embedding corpus: deterministic
    sampled k-means (the shared IVF trainer) broadcast as plan
    literals, every vector assigned its nearest centroid —
    ``(id_col, cluster_id, dist2)`` with ``dist2`` the squared L2 to
    the assigned centroid (the k-means objective term).  The curation
    primitive behind semantic dedup / diversity balancing / cluster-
    stratified sampling of a training corpus (SemDeDup-style
    pipelines cluster first, prune within clusters second).

    Deterministic end-to-end (strided-init Lloyd on an ORDER BY
    sample), so the driver hash-checks it via a generated oracle that
    retrains the same centroids (plans/ann_oracles.py pattern).

    Scale: one pass over the corpus with a codegen'd distance array —
    no shuffle at all; downstream per-cluster aggregation shuffles
    one row per vector.  Centroids are O(cells·dim) literals."""
    sample = (
        corpus.orderBy(id_col).limit(sample_size).select(vec_col).collect()
    )
    C = _kmeans_centroids([r[0] for r in sample], n_cells)
    # staged projections so the distance array materializes ONCE per
    # row (no CSE across big expressions; same motif as the minhash
    # md5 interning): dists → min → first-position-of-min (= lowest
    # cell id on exact ties, the IVF routing tie-break)
    with_d = corpus.select(
        F.col(id_col), _cell_dists_expr(C, F.col(vec_col)).alias("_d")
    )
    with_m = with_d.select(
        id_col, "_d", F.array_min("_d").alias("dist2")
    )
    return with_m.select(
        F.col(id_col),
        (F.array_position("_d", F.col("dist2")) - 1).cast("int").alias(
            "cluster_id"
        ),
        "dist2",
    )


def _pq_codebooks(sample_vecs, m_sub: int, k_codes: int):
    """Per-subspace codebooks: split each sample vector into ``m_sub``
    contiguous slices and run the shared deterministic k-means on each
    slice.  Returns (m_sub, k_codes, sub_dim) float64 — a model
    artifact of m·K·d/m = K·d floats, broadcast-sized like IVF's
    centroids."""
    import numpy as np

    X = np.asarray(sample_vecs, dtype=np.float64)
    d = X.shape[1]
    if d % m_sub:
        raise ValueError(f"dim {d} not divisible by m_sub {m_sub}")
    sub = d // m_sub
    return np.stack(
        [
            _kmeans_centroids(X[:, m * sub : (m + 1) * sub], k_codes)
            for m in range(m_sub)
        ]
    )


def _pq_encode_udf(CB):
    """Arrow-batched encoder: vector column → ``m_sub`` sub-codes via
    vectorized numpy argmin against codebooks ``CB`` (m, K, sub).  No
    type hints: ``from __future__ import annotations`` stringifies
    them and pyspark's hint-based eval-type inference can't resolve
    locals — the positional pandas_udf form pins SCALAR explicitly."""
    import numpy as np
    import pandas as pd

    m_sub, _, sub = CB.shape

    def _encode(v):
        if not len(v):  # Arrow can deliver zero-row batches (ADVICE r8)
            return pd.Series([], dtype=object)
        X = np.stack(v.to_numpy())  # (n, d)
        codes = np.empty((len(X), m_sub), dtype=np.int32)
        for m in range(m_sub):
            S = X[:, m * sub : (m + 1) * sub]  # (n, sub)
            d2 = ((S[:, None, :] - CB[m][None, :, :]) ** 2).sum(axis=2)
            codes[:, m] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    return F.pandas_udf(_encode, "array<int>")


def _pq_recon_dot_expr(CB, q_vec="q_vec", codes="codes"):
    """Column expr: <q, x̂> = Σ_m Σ_j q[m·sub+j] · CB[m][code_m][j].
    ``element_at`` indexes the flat codebook literal by the row's
    code, so the expression is O(dim) per pair over the compressed
    codes — no unrolled argmin, no raw vectors."""
    m_sub, k_codes, sub = CB.shape
    cflat = _lit_double_array(CB.reshape(-1))
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m_sub - 1)),
        F.lit(0.0),
        lambda acc, m: acc
        + F.aggregate(
            F.sequence(F.lit(0), F.lit(sub - 1)),
            F.lit(0.0),
            lambda a, j: a
            + F.element_at(F.col(q_vec), (m * sub + j + 1).cast("int")).cast(
                "double"
            )
            * F.element_at(
                cflat,
                (
                    m * (k_codes * sub)
                    + F.element_at(F.col(codes), (m + 1).cast("int")) * sub
                    + j
                    + 1
                ).cast("int"),
            ),
        ),
    )


def _exact_rerank(shortlist: DataFrame, corpus: DataFrame, k: int,
                  id_col: str, vec_col: str) -> DataFrame:
    """Exact-cosine rerank of a shortlist: join the shortlisted
    (q_id, q_vec, q_norm, n_id) pairs back to the true vectors, score
    exactly, keep the top-k per query.  The shared tail of the PQ
    variants (review r8: hand-copies of this block risked the
    tie-break/rounding drifting apart between registry rows)."""
    vecs = corpus.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        _norm(F.col(vec_col)).alias("n_norm"),
    )
    exact = (
        shortlist.join(vecs, "n_id")
        .withColumn(
            "cos",
            F.round(
                _dot(F.col("q_vec"), F.col("n_vec"))
                / F.nullif(F.col("q_norm") * F.col("n_norm"), F.lit(0.0)),
                6,
            ),
        )
        .select("q_id", "n_id", "cos")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return exact.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m_sub: int = 16,
    k_codes: int = 64,
    rerank_factor: int = 8,
    sample_size: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN (the FAISS IVF+PQ motif, PQ half):
    vectors compress to ``m_sub`` sub-codes (16 bytes at the defaults
    vs 256 for 64 float32 dims — a 16× scan-byte cut, THE lever when
    the corpus no longer fits storage-side next to the compute); search
    scores queries against the *reconstructed* codes (asymmetric
    distance), shortlists ``rerank_factor·k`` per query, and exactly
    reranks only the shortlist against true vectors.  Defaults measure
    recall ≈0.92 vs brute-force top-5 on the sf0.1 embeddings —
    near-uniform random vectors, PQ's adversarial case (distances
    concentrate, quantization error dominates); clustered real
    embeddings reach it with coarser codes (pytest asserts ≥0.8).

    Encoding is one Arrow-batched pandas_udf pass (vectorized numpy
    argmin per subspace — the legitimate Python hot path, same budget
    class as the pcap decode kernel); scoring is pure expressions: the
    codebook rides the plan as a flat literal array and
    ``element_at`` indexes it by code, so the approximate pass never
    touches the raw vectors.

    Scale: codes + norm are the only corpus-grain state (persisted);
    the shortlist is WindowGroupLimit; the exact rerank joins only
    shortlisted ids back to the vector table.  Rows-only in the
    registry (approximate by construction)."""
    from pyspark import StorageLevel

    from .cache import register_persisted

    sample = (
        corpus.orderBy(id_col).limit(sample_size).select(vec_col).collect()
    )
    CB = _pq_codebooks([r[0] for r in sample], m_sub, k_codes)

    enc = corpus.select(
        F.col(id_col).alias("n_id"),
        _norm(F.col(vec_col)).alias("n_norm"),
        _pq_encode_udf(CB)(F.col(vec_col)).alias("codes"),
    ).persist(StorageLevel.MEMORY_AND_DISK)

    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
    )
    recon_dot = _pq_recon_dot_expr(CB)
    approx = (
        enc.join(F.broadcast(q), F.col("q_id") != F.col("n_id"))
        .withColumn(
            "acos",
            recon_dot / F.nullif(F.col("q_norm") * F.col("n_norm"), F.lit(0.0)),
        )
        .select("q_id", "q_vec", "q_norm", "n_id", "acos")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("acos"), F.asc("n_id"))
    shortlist = approx.withColumn("arank", F.row_number().over(w)).filter(
        F.col("arank") <= rerank_factor * k
    )
    # exact rerank: only the shortlist touches true vectors
    result = _exact_rerank(shortlist, corpus, k, id_col, vec_col)
    return register_persisted(result, enc)


def cosine_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 32,
    n_probe: int = 16,
    m_sub: int = 16,
    k_codes: int = 64,
    rerank_factor: int = 16,
    sample_size: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The composed IVF+PQ index — the standard billion-scale ANN
    layout: IVF cells bound WHICH rows each query touches
    (n_probe/n_cells of the corpus), PQ codes bound the BYTES each
    touched row costs (16 codes vs raw floats), and an exact rerank
    of the ``rerank_factor·k`` shortlist restores precision.  Both
    models train on one bounded driver-side sample; both ride the
    plan as broadcast-sized literals (centroids) plus one
    Arrow-batched encode pass (codes).

    Scale: the corpus shuffles once on cell id (stored bucketed by
    cell in a real deployment, making the probe join exchange-free);
    the approximate scan reads (n_probe/n_cells) × (code bytes) — at
    the defaults 50% of rows at 1/16 the bytes ≈ 3.1% of the flat
    exact scan's I/O.  Defaults re-tuned in r9 (n_probe 12→16,
    shortlist 8k→16k): measured recall 0.925 vs brute-force top-5 on
    the sf0.1 embeddings, up from 0.825, for +0.8pp of flat-scan I/O
    (sweep in the r9 log; pytest asserts ≥0.85, a ≥0.075 margin).
    Hash-checked against the generated model-replay oracle
    (plans/ann_oracles.py); recall asserted in pytest."""
    from pyspark import StorageLevel

    from .cache import register_persisted

    sample = (
        corpus.orderBy(id_col).limit(sample_size).select(vec_col).collect()
    )
    vecs = [r[0] for r in sample]
    C = _kmeans_centroids(vecs, n_cells)
    CB = _pq_codebooks(vecs, m_sub, k_codes)

    enc = corpus.select(
        F.col(id_col).alias("n_id"),
        _norm(F.col(vec_col)).alias("n_norm"),
        F.element_at(
            _nearest_cells_expr(C, F.col(vec_col), 1), 1
        ).alias("cell"),
        _pq_encode_udf(CB)(F.col(vec_col)).alias("codes"),
    ).persist(StorageLevel.MEMORY_AND_DISK)

    # outer explode: the probe list is a computed array (full centroid
    # distance scan) — see cosine_topk_ivf
    q_probes = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_norm"),
        F.explode_outer(
            _nearest_cells_expr(C, F.col(vec_col), n_probe)
        ).alias("cell"),
    )
    approx = (
        enc.join(F.broadcast(q_probes), "cell")
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn(
            "acos",
            _pq_recon_dot_expr(CB)
            / F.nullif(F.col("q_norm") * F.col("n_norm"), F.lit(0.0)),
        )
        .select("q_id", "q_vec", "q_norm", "n_id", "acos")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("acos"), F.asc("n_id"))
    shortlist = approx.withColumn("arank", F.row_number().over(w)).filter(
        F.col("arank") <= rerank_factor * k
    )
    # exact rerank: only the shortlist touches true vectors
    result = _exact_rerank(shortlist, corpus, k, id_col, vec_col)
    return register_persisted(result, enc)


def sign_bands(
    vecs: DataFrame,
    n_bands: int = 4,
    band_dims: int = 8,
    id_col: str = "doc_id",
    vec_col: str = "vec",
) -> DataFrame:
    """(id, band, key) rows: key = the sign-bit string of the band's
    coordinate slice (band b covers dims [b·band_dims, (b+1)·band_dims)).

    This is hyperplane LSH with *coordinate* hyperplanes — deterministic
    and reproducible in plain SQL, which is what the correctness oracle
    needs.  Production near-dup on real embeddings should use random
    projections (see :func:`_hyperplanes`); the banding/candidate shape
    is identical either way."""
    bands = []
    for b in range(n_bands):
        bits = [
            F.when(
                F.element_at(F.col(vec_col), b * band_dims + j + 1) >= 0, F.lit("1")
            ).otherwise(F.lit("0"))
            for j in range(band_dims)
        ]
        bands.append(F.struct(F.lit(b).alias("band"), F.concat(*bits).alias("key")))
    return vecs.select(
        F.col(id_col).alias("doc_id"), F.explode(F.array(*bands)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def rp_sign_bands(
    vecs: DataFrame,
    n_bands: int = 12,
    band_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "doc_id",
    vec_col: str = "vec",
    engine: str = "arrow",
) -> DataFrame:
    """(id, band, key) rows keyed by RANDOM-PROJECTION sign patterns —
    the production variant of :func:`sign_bands` (VERDICT r3 item 5).

    Each band owns ``band_planes`` seeded pseudo-random hyperplanes
    (md5-derived weights — deterministic across runs, engines and
    cluster sizes with no stored model); the band key is the sign-bit
    string of the vector's projections.  Unlike coordinate slices,
    random projections are rotation-invariant: collision probability
    per bit is exactly 1 - θ/π for angle θ, which is what makes the
    ≥0.9-cosine operating point work on real embedding geometry.
    Candidate recall at threshold t is 1-(1-p^band_planes)^n_bands
    with p = 1 - acos(t)/π — defaults give ≈0.98 at t=0.9.

    Scale: identical shuffle shape to sign_bands — O(n·n_bands) band
    rows into the one-shuffle bucket builder; projections are
    unrolled literal-weight sums inside whole-stage codegen
    (:func:`_proj`), no Python.

    Engines (bit-identical outputs, equality pytest-pinned):

    * ``"arrow"`` (default) — one vectorized pandas_udf computes ALL
      bands' projections as a numpy pass that accumulates
      SEQUENTIALLY over dimensions (``acc + X[:,d]·W[d,:]`` per
      step), which is the exact IEEE order of the unrolled expression
      AND of the oracle's DuckDB ``list_sum`` — so sign decisions
      match bit-for-bit across all three.  Exists because the
      expression form hits JVM codegen's 64 KB method limit:
      bands × planes × dim multiply-adds funnel into one
      whole-stage-codegen method Janino cannot split ("Code grows
      beyond 64 KB" at the default sizing, silently degrading the
      stage to interpreted eval — found at the r9 sf3 gate).
    * ``"expr"`` — the pure-expression form (per-band staged key
      columns feeding the explode), kept as the no-Python
      cross-check path; correct under codegen fallback."""
    if engine == "arrow":
        import numpy as np
        import pandas as pd

        planes_flat = []
        for b in range(n_bands):
            planes_flat.extend(_hyperplanes(band_planes, dim, tag=f"rp:{seed}:{b}"))
        Wm = np.array(planes_flat, dtype=np.float64).T  # (dim, bands*planes)

        def _keys(v):
            if not len(v):
                return pd.Series([], dtype=object)
            X = np.stack(v.to_numpy()).astype(np.float64)  # exact for f32/f64
            acc = np.zeros((len(X), Wm.shape[1]))
            for d in range(X.shape[1]):
                acc = acc + X[:, d : d + 1] * Wm[d][None, :]
            bits = np.where(acc >= 0, "1", "0").reshape(
                len(X), n_bands, band_planes
            )
            keys = bits[:, :, 0]
            for j in range(1, band_planes):
                keys = np.char.add(keys, bits[:, :, j])
            return pd.Series(list(keys))

        keys_udf = F.pandas_udf(_keys, "array<string>")
        return (
            vecs.select(
                F.col(id_col).alias("doc_id"),
                F.posexplode(keys_udf(F.col(vec_col))).alias("band", "key"),
            )
        )

    key_cols = []
    for b in range(n_bands):
        planes = _hyperplanes(band_planes, dim, tag=f"rp:{seed}:{b}")
        bits = []
        for plane in planes:
            proj = _proj(vec_col, plane)
            bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
        key_cols.append(F.concat(*bits).alias(f"_k{b}"))
    staged = vecs.select(F.col(id_col).alias("doc_id"), *key_cols)
    bands = [
        F.struct(F.lit(b).alias("band"), F.col(f"_k{b}").alias("key"))
        for b in range(n_bands)
    ]
    return staged.select(
        "doc_id", F.explode(F.array(*bands)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def rp_band_params(
    n: int,
    threshold: float = 0.9,
    recall: float = 0.98,
    target_bucket: int = 32,
    min_planes: int = 8,
) -> tuple:
    """Corpus-size-aware LSH banding: ``(band_planes, n_bands)``.

    The scale law this encodes (learned the hard way at the sf3 spot
    gate, r9): with FIXED band width, expected bucket size is
    n / 2^planes, so candidate cliques — and the verify join — grow
    ~n²/2^planes: fine at 2k vectors, an 84M-pair blowup at 60k.
    Holding bucket size at ``target_bucket`` by scaling
    planes = log2(n / target_bucket) makes verify cost
    O(n · target_bucket · bands) — LINEAR in n — while n_bands is
    recomputed from the LSH S-curve to keep the recall target:
    per-band collision prob for a threshold-cosine pair is
    p^planes with p = 1 − acos(t)/π, and
    bands = ln(1−recall)/ln(1−p^planes).

    At ~2k vectors this yields exactly the old fixed defaults (8, 12),
    so small-corpus results (driver sf0.01 rows, recall pytest) are
    unchanged; at 60k it yields (11, 20), at 1M (15, 38) — the
    constant-factor growth that buys linearity."""
    import math

    p = 1.0 - math.acos(threshold) / math.pi
    planes = max(min_planes, math.ceil(math.log2(max(n, 2) / target_bucket)))
    pb = p ** planes
    bands = max(1, math.ceil(math.log(1.0 - recall) / math.log(1.0 - pb)))
    return planes, bands


def embedding_near_dup_rp(
    emb: DataFrame,
    threshold: float = 0.9,
    n_bands: Optional[int] = None,
    band_planes: Optional[int] = None,
    dim: int = 64,
    seed: int = 42,
    max_bucket: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup at the PRODUCTION operating point: random-
    projection sign bands (seeded) for candidates, exact cosine ≥
    threshold (default 0.9) for verification.  Approximate by
    construction (recall ≈0.98 at 0.9, pytest-asserted on planted
    near-dups); hash-oracled since r9 (the generated oracle replays
    the same sizing + planes).  The oracle-checked coordinate-band
    variant stays :func:`embedding_near_dup`.

    Band sizing defaults to :func:`rp_band_params` over the corpus
    COUNT (one cheap job at build time — same budget class as the
    ANN training sample), which is what keeps the verify join linear
    in n; pass ``n_bands``/``band_planes`` explicitly to pin a shape.

    Output: (a, b, cos) with a < b, cos rounded to 6 places."""
    if n_bands is None or band_planes is None:
        auto_planes, auto_bands = rp_band_params(emb.count(), threshold)
        band_planes = band_planes if band_planes is not None else auto_planes
        n_bands = n_bands if n_bands is not None else auto_bands
    from .cache import register_persisted
    from .dedup import candidate_pairs

    par = emb.sparkSession.sparkContext.defaultParallelism
    # hash-partition on the join key (NOT round-robin): the cached
    # partitioning then satisfies the merge-pinned verify joins below
    # with no corpus-side exchange (measured: 9 -> 7 exchanges with
    # AQE off; AQE currently re-exchanges cached plans regardless,
    # so under AQE this costs nothing and removes two shuffles the
    # moment the cache's partitioning is honored)
    vecs = emb.repartition(par, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("nrm"),
    )
    from pyspark import StorageLevel

    vecs = vecs.persist(StorageLevel.MEMORY_AND_DISK)
    cands = candidate_pairs(
        rp_sign_bands(vecs, n_bands, band_planes, dim, seed), max_bucket
    )
    a = vecs.select(
        F.col("doc_id").alias("a"), F.col("vec").alias("vec_a"), F.col("nrm").alias("nrm_a")
    )
    b = vecs.select(
        F.col("doc_id").alias("b"), F.col("vec").alias("vec_b"), F.col("nrm").alias("nrm_b")
    )
    return register_persisted(
        a.join(cands.hint("merge"), "a")
        # merge-pinned for the same reason as jaccard_verify: the
        # vector sides are corpus-sized; a static broadcast of them
        # (observed when filters shrink estimates) cannot survive
        # scale, while SMJ sorts the pre-partitioned cache in place
        .join(b.hint("merge"), "b")
        .withColumn(
            "cos",
            F.round(
                _dot("vec_a", "vec_b", dim)
                / F.nullif(F.col("nrm_a") * F.col("nrm_b"), F.lit(0.0)),
                6,
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos"),
        vecs,
    )


def embedding_near_dup(
    emb: DataFrame,
    threshold: float = 0.35,
    n_bands: int = 4,
    band_dims: int = 8,
    max_bucket: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: Optional[int] = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the vector member of the
    dedup family (exact / minhash / simhash / ngram / embedding).

    Candidates come from sign-band buckets (a pair is a candidate iff
    it agrees on the FULL sign signature of ≥1 band), generated with
    the same one-shuffle bucket builder as MinHash LSH (including its
    hot-bucket star guard); verification is exact cosine ≥ threshold.
    Never materializes O(n²) pairs — the 100 TB shape.

    Output: (a, b, cos) with a < b, cos rounded to 6 places."""
    from .dedup import candidate_pairs

    par = emb.sparkSession.sparkContext.defaultParallelism
    # hash-partition on the join key (NOT round-robin): the cached
    # partitioning then satisfies the merge-pinned verify joins below
    # with no corpus-side exchange (measured: 9 -> 7 exchanges with
    # AQE off; AQE currently re-exchanges cached plans regardless,
    # so under AQE this costs nothing and removes two shuffles the
    # moment the cache's partitioning is honored)
    vecs = emb.repartition(par, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("nrm"),
    )
    from pyspark import StorageLevel

    # vecs feeds banding + both verification sides.  The persist lives
    # as long as the returned (lazy) DataFrame; the result carries a
    # release handle — operators.release_persisted(result) after
    # materializing unpersists exactly this cache (ADVICE r2: relying
    # on spark.catalog.clearCache() evicted unrelated caches too).
    vecs = vecs.persist(StorageLevel.MEMORY_AND_DISK)
    cands = candidate_pairs(sign_bands(vecs, n_bands, band_dims), max_bucket)
    a = vecs.select(
        F.col("doc_id").alias("a"), F.col("vec").alias("vec_a"), F.col("nrm").alias("nrm_a")
    )
    b = vecs.select(
        F.col("doc_id").alias("b"), F.col("vec").alias("vec_b"), F.col("nrm").alias("nrm_b")
    )
    from .cache import register_persisted

    return register_persisted(
        a.join(cands.hint("merge"), "a")
        # merge-pinned for the same reason as jaccard_verify: the
        # vector sides are corpus-sized; a static broadcast of them
        # (observed when filters shrink estimates) cannot survive
        # scale, while SMJ sorts the pre-partitioned cache in place
        .join(b.hint("merge"), "b")
        .withColumn(
            "cos",
            F.round(
                _dot("vec_a", "vec_b", dim)
                / F.nullif(F.col("nrm_a") * F.col("nrm_b"), F.lit(0.0)),
                6,
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos"),
        vecs,
    )
