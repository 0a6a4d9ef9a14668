"""Embedding similarity search over an ``array<float>`` column.

* :func:`brute_force_topk` — exact cosine top-k; one scan, no shuffle
  beyond the final top-k (Spark's TakeOrderedAndProject). The right
  baseline, and often the right answer even at scale when the query count
  is small (100 TB scan is embarrassingly parallel).
* :func:`lsh_ann_topk` — sign-random-projection LSH: deterministic
  hyperplanes derived from md5, bucket by bit signature, search only the
  query's bucket (and optionally neighboring probes). The scale path when
  query volume is high: the bucket join prunes the scan by ~2^planes.

Two ways to compute a cosine, chosen by where the other vector lives:

* **Against driver-side vectors** (a query, centroids, a probe list):
  :func:`brute_force_topk`, :func:`ivf_topk`, :func:`assign_clusters`,
  :func:`lsh_ann_topk` and the cell
  assignment of :func:`ivf_knn_join` all call one numpy kernel,
  :func:`_score`, under ``DataFrame.mapInArrow``. As Column expressions
  every literal vector cost ``dim`` ``F.lit`` columns plus lambdas to
  build (thousands of py4j calls for 16 centroids) and a row-by-row
  higher-order-function (HOF) evaluation to run; the kernel ships the
  vectors once per task and scores a whole Arrow batch per numpy step.
  Filters, joins and the final ``orderBy(..).limit(k)`` stay in Spark.
* **Column against column** (the pair stage of :func:`knn_join`,
  :func:`knn_join_lsh` and the LSH blocking joins) and :func:`lsh_bucket`
  stay ``zip_with`` + ``aggregate`` HOFs: the pairs come out of a join, so
  there is no driver-side vector to ship, and the expression keeps the
  join stage in the JVM.

Both ways give the same doubles. Elements are cast to double first
(float32 summation is not reproducible across engines), and
:func:`_fold` sums every dot product left to right over the dimensions,
the order of Spark's ``aggregate`` (a BLAS ``@`` product sums in another
order). A cosine is NULL, as ``try_divide`` makes it, for a zero-norm
vector, a NULL vector, a NULL element or a vector of another length.
"""

from __future__ import annotations

import sys
from typing import Callable, Sequence

import numpy as np
import pyarrow as pa
from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from graphique_spark.session import local_frame, materialize

# the kernel's functions travel to Python workers by value: a worker needs
# numpy and pyarrow, not this package, on its path
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine_similarity(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm vector (failed encode / padding row) yields
    # NULL instead of an ANSI DIVIDE_BY_ZERO job failure; NULLs sort last
    # under the desc top-k orderings every caller uses
    a, b = _as_double(a), _as_double(b)
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def _cos_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine over PRE-CAST double arrays with PRE-COMPUTED norms: one
    array aggregate (the dot) per evaluation instead of three. The pair
    stage of every kNN/LSH join evaluates cosine |pairs| times while the
    norms only vary per ROW — hoisting them before the join removes 2/3
    of the higher-order-function work from the hot path. Same try_divide
    NULL-on-zero-norm contract as :func:`cosine_similarity`."""
    return F.try_divide(dot(a, b), na * nb)


def _with_vec_norm(
    df: DataFrame, vec_col: str, v_name: str, n_name: str
) -> DataFrame:
    """Attach the pre-cast double vector and its norm as columns — the
    per-row hoist :func:`_cos_pre` consumes."""
    return df.withColumn(v_name, F.col(vec_col).cast("array<double>")).withColumn(
        n_name, norm(F.col(v_name))
    )


def _fold(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``sum(a[..., j] * b[..., j])`` over the last axis, left to right —
    the summation order of Spark's ``aggregate`` HOF, so the kernel, the
    driver-side folds and the Column paths agree bit for bit. The other
    axes broadcast: rows × 1 × dim against targets × dim is a rows ×
    targets matrix of dot products."""
    acc = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    for j in range(a.shape[-1]):
        acc = acc + a[..., j] * b[..., j]
    return acc


def _rows(arr: pa.Array, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """An Arrow list array as an (n, dim) float64 matrix, plus the mask of
    rows that are not NULL, have exactly ``dim`` elements and no NULL
    element — every other row gets a NULL cosine (``zip_with`` pads the
    shorter side with NULLs). Those rows are zero in the matrix."""
    off = arr.offsets.to_numpy()
    ok = (np.diff(off) == dim) & arr.is_valid().to_numpy(zero_copy_only=False)
    if not ok.any():
        return np.zeros((len(arr), dim)), ok
    idx = np.where(ok[:, None], off[:-1, None] + np.arange(dim), 0)
    vals = arr.values
    m = vals.to_numpy(zero_copy_only=False).astype(np.float64)[idx]
    if vals.null_count:
        ok &= ~vals.is_null().to_numpy(zero_copy_only=False)[idx].any(axis=1)
    m[~ok] = 0.0
    return m, ok


def _cosines(
    arr: pa.Array, targets: Sequence[Sequence[float]]
) -> tuple[np.ndarray, np.ndarray]:
    """Rows × targets cosines of a vector column batch against driver-side
    vectors, and the mask of NULL ones: ``try_divide(dot, |row| * |t|)``
    with :func:`_fold` sums, so a zero denominator or an unusable row (see
    :func:`_rows`) is NULL."""
    cos = np.zeros((len(arr), len(targets)))
    null = np.ones(cos.shape, dtype=bool)
    for dim in {len(t) for t in targets}:
        cols = [i for i, t in enumerate(targets) if len(t) == dim]
        tv = np.array([targets[i] for i in cols], dtype=np.float64)
        tv = tv.reshape(len(cols), dim)
        v, ok = _rows(arr, dim)
        den = np.sqrt(_fold(v, v))[:, None] * np.sqrt(_fold(tv, tv))
        bad = ~ok[:, None] | (den == 0)
        cos[:, cols] = _fold(v[:, None, :], tv) / np.where(bad, 1.0, den)
        null[:, cols] = bad
    return cos, null


def _ranked(cos: np.ndarray, null: np.ndarray, rank: np.ndarray) -> np.ndarray:
    """Per row, the target indices in Spark's descending order of
    ``struct(cos, cid)``: a NULL cosine below every number, NaN above
    (Spark's double order), equal cosines by ``rank`` descending."""
    cls = np.where(null, 0, np.where(np.isnan(cos), 2, 1))
    val = np.where(cls == 1, cos, 0.0)
    return np.lexsort((np.broadcast_to(rank, cos.shape), val, cls), axis=-1)[:, ::-1]


def _cells(cids: Sequence) -> tuple[list, np.ndarray]:
    """Distinct centroid ids in ascending order, and each centroid's
    position among them: the cell label the kernel emits and the rank
    :func:`_ranked` breaks ties by."""
    labels = sorted(set(cids))
    pos = {c: i for i, c in enumerate(labels)}
    return labels, np.array([pos[c] for c in cids], dtype=np.int32)


def _score(
    df: DataFrame,
    vec_col: str,
    keep: list[str],
    targets: Sequence[Sequence[float]],
    fields: list[T.StructField],
    emit: Callable[[np.ndarray, np.ndarray], list[pa.Array]],
) -> DataFrame:
    """The vector kernel: ``df``'s ``keep`` columns plus ``fields``, under
    ``mapInArrow``. Per Arrow batch, :func:`_cosines` scores ``vec_col``
    against ``targets`` and ``emit(cos, null)`` turns the rows × targets
    matrix into the ``fields`` arrays."""
    src = df.select(*dict.fromkeys([*keep, vec_col]))
    at = keep.index(vec_col) if vec_col in keep else len(keep)
    names = [*keep, *(f.name for f in fields)]

    def cosine_kernel(batches):  # the name the plan prints
        for b in batches:
            cos, null = _cosines(b.column(at), targets)
            yield pa.RecordBatch.from_arrays(
                [*b.columns[: len(keep)], *emit(cos, null)], names=names
            )

    schema = T.StructType([*(df.schema[c] for c in keep), *fields])
    return src.mapInArrow(cosine_kernel, schema)


_COSINE = T.StructField("cosine", T.DoubleType())


def _query_cosine(
    df: DataFrame, query: Sequence[float], vec_col: str, id_col: str
) -> DataFrame:
    """(id, cosine to ``query``) — the top-k sites' kernel call."""
    return _score(
        df,
        vec_col,
        [id_col],
        [query],
        [_COSINE],
        lambda cos, null: [pa.array(cos[:, 0], mask=null[:, 0])],
    )


def _topk(scored: DataFrame, id_col: str, k: int) -> DataFrame:
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def brute_force_topk(
    df: DataFrame,
    query: Sequence[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.

    Plan shape: scan → MapInArrow (the vector kernel) →
    TakeOrderedAndProject. No shuffle of the embeddings themselves; scales
    linearly with executors.
    """
    return _topk(_query_cosine(df, query, vec_col, id_col), id_col, k)


def _hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from md5 — reproducible in
    any engine (and in the SQL oracle) without a random seed exchange."""
    import hashlib

    weights = []
    for i in range(dim):
        digest = hashlib.md5(f"plane{plane}:{i}".encode()).hexdigest()
        weights.append((int(digest[:8], 16) % 2001 - 1000) / 1000.0)
    return weights


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign bit per hyperplane, packed into an int bucket id."""
    v = _as_double(vec)
    bucket = F.lit(0)
    for p, weights in enumerate(planes):
        w = F.array(*[F.lit(x) for x in weights])
        bucket = bucket + F.when(dot(v, w) >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def hash60(col: Column) -> Column:
    """Oracle-reproducible 60-bit hash: ``conv(substr(md5, 1, 15), 16, 10)``
    == DuckDB ``('0x' || substr(md5(s), 1, 15))::BIGINT``."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def fit_centroids(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    max_iter: int = 20,
    seed: int = 0,
    sample_fraction: float | None = None,
) -> list[tuple[int, list[float]]]:
    """Offline k-means centroids (Spark ML KMeans — distributed Lloyd's)
    for :func:`ivf_topk` / :func:`assign_clusters` ``centroids=``.

    The hash-sampled default centroids are deterministic and free but
    arbitrary; k-means centroids track the data distribution, so IVF cells
    are balanced and probes recall more true neighbors. At 100 TB: fit on
    ``sample_fraction`` (k-means quality saturates quickly with sample
    size), persist the returned list (k × dim floats — kilobytes), and
    reuse across queries; fitting is offline, assignment plans are
    identical to the hash-centroid path.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    if sample_fraction is not None:
        feats = feats.sample(sample_fraction, seed=seed)
    # Deliberately NOT persisted (measured-and-reverted, VERDICT r12
    # item 5): when the input dataset is unpersisted, MLlib's KMeans
    # detects storageLevel == NONE and caches its own converted
    # norm-augmented instance RDD across the ~19 k-means|| jobs. A caller
    # persist flips that detection OFF, so every orchestration job
    # re-runs the row->vector conversion from our cached rows instead —
    # interleaved A/B measured the persist variant at 0.84x (min 4.58s
    # -> 5.47s, 4 alternating legs, bench_history/ab_r13_ivf/).
    model = KMeans(k=k, maxIter=max_iter, seed=seed).fit(feats)
    return [
        (i, [float(x) for x in center])
        for i, center in enumerate(model.clusterCenters())
    ]


def _hash_sampled_centroids(
    df: DataFrame, num: int, vec_col: str, id_col: str
) -> list[tuple[int, list[float]]]:
    """Deterministic fixed-size centroid sample: the ``num`` rows with the
    smallest ``hash60(id)`` — a hash-ordered top-k (TakeOrderedAndProject,
    no shuffle of the vectors). Fixed k keeps the centroid broadcast and
    the n × k assignment cost bounded no matter the corpus size."""
    rows = (
        df.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
        .orderBy(hash60(F.col("cid")), F.col("cid"))
        .limit(num)
        .collect()
    )  # tiny: num rows, collected once at plan-build
    # cid stays the raw id value: it is only an opaque cell label
    # (int() would crash on string vector ids, which hash60 supports)
    return [(r["cid"], [float(x) for x in r["cvec"]]) for r in rows]


def ivf_topk(
    df: DataFrame,
    query: Sequence[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    num_centroids: int = 16,
    nprobe: int = 2,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: partition vectors into cells around
    centroids, probe only the ``nprobe`` cells nearest the query.

    Default centroids are a *fixed-size* deterministic hash sample (see
    :func:`_hash_sampled_centroids`) — a stride sample (``id % s == 0``)
    would grow O(n) and blow up at scale. Pass ``centroids=`` (e.g. from
    :func:`fit_centroids`) for k-means cells; the probe and assignment
    plumbing is identical. Assignment is map-side, in the vector kernel
    (no shuffle of the embeddings). At scale the table would be written
    partitioned by ``cell`` and a probe reads ``nprobe`` partitions only.
    """
    if centroids is None:
        centroids = _hash_sampled_centroids(df, num_centroids, vec_col, id_col)
    if not centroids:
        # empty corpus samples zero centroids: typed empty result
        return df.select(F.col(id_col), F.lit(0.0).alias("cosine")).limit(0)
    cvecs = [v for _, v in centroids]
    # equal cosines go to the SMALLEST cid, on the driver and in the
    # kernel alike (duplicate centroids otherwise assign a cell the probe
    # never picks); the probe ranking runs the kernel's own scoring on the
    # query, so a zero-norm centroid (NULL cosine) ranks last here too
    _, label = _cells([c for c, _ in centroids])
    q = pa.array([[float(x) for x in query]], pa.list_(pa.float64()))
    probe = label[_ranked(*_cosines(q, cvecs), -label)[0, :nprobe]]
    m = len(cvecs)

    def emit(cos, null):
        best = _ranked(cos[:, :m], null[:, :m], -label)[:, 0]
        return [pa.array(label[best]), pa.array(cos[:, m], mask=null[:, m])]

    scored = _score(
        df,
        vec_col,
        [id_col],
        [*cvecs, query],
        [T.StructField("__cell", T.IntegerType()), _COSINE],
        emit,
    )
    return _topk(
        scored.filter(F.col("__cell").isin([int(c) for c in probe])).drop("__cell"),
        id_col,
        k,
    )


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """k-NN join: exact cosine top-k *per query vector* — the batch shape
    of similarity search (one query → use :func:`brute_force_topk`).

    The query set broadcasts (it is the small side by construction); the
    corpus streams through map-side, so cost is |corpus| × |queries| dot
    products with no corpus shuffle; the per-query top-k window runs on
    |queries| × |corpus| scored rows partitioned by query id. At scale,
    bucket both sides (LSH/IVF cell) first and join on the cell instead of
    cross-joining.
    Returns (query_id, vec_id, cosine) with rank <= k per query.
    """
    q = _with_vec_norm(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__q")),
        "__q",
        "__qv",
        "__qn",
    ).select("query_id", "__qv", "__qn")
    c = _with_vec_norm(corpus, vec_col, "__cv", "__cn")
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        F.col(id_col),
        _cos_pre(F.col("__cv"), F.col("__qv"), F.col("__cn"), F.col("__qn")).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def ivf_knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """Batch IVF ANN join: the approximate counterpart of :func:`knn_join`
    for a trained centroid table (:func:`fit_centroids`). Corpus rows get
    their nearest-centroid cell map-side, in the vector kernel; each
    query explodes into its ``nprobe`` closest cells the same way; the two
    sides then meet on an EQUI-join on the cell, so scored pairs are
    ~|corpus| * nprobe / n_cells instead of the exact join's |corpus| *
    |queries| — the difference between linear and quadratic when the query
    set is itself large. The query side broadcasts (queries * nprobe rows);
    the corpus never shuffles.
    Returns (query_id, vec_id, cosine) with rank <= k per query."""
    if not centroids:
        # no cells -> no candidate pairs: typed empty result, matching
        # the ivf_topk empty-centroid contract
        return local_frame(
            queries.sparkSession,
            [],
            T.StructType(
                [
                    T.StructField("query_id", queries.schema[id_col].dataType),
                    T.StructField(id_col, corpus.schema[id_col].dataType),
                    T.StructField("cosine", T.DoubleType()),
                ]
            ),
        )
    cvecs = [v for _, v in centroids]
    # equal cosines go to the LARGEST cid on both sides, so a query probes
    # the duplicate centroid its neighbours joined
    _, label = _cells([c for c, _ in centroids])
    nprobe = int(nprobe)
    if nprobe < 0:  # F.slice refused a negative length
        raise ValueError(f"nprobe must be >= 0, got {nprobe}")

    def nearest(cos, null):
        return [pa.array(label[_ranked(cos, null, label)[:, 0]])]

    def probes(cos, null):
        top = label[_ranked(cos, null, label)[:, :nprobe]]
        offsets = np.arange(len(top) + 1, dtype=np.int32) * top.shape[1]
        return [pa.ListArray.from_arrays(offsets, pa.array(top.ravel()))]

    cells = _score(
        corpus,
        vec_col,
        [id_col, vec_col],
        cvecs,
        [T.StructField("__cell", T.IntegerType())],
        nearest,
    )
    assigned = _with_vec_norm(cells, vec_col, "__cv", "__cn").select(
        F.col(id_col), "__cv", "__cn", "__cell"
    )
    # per-query probe list: every centroid ranked by similarity, nprobe kept
    probed = _score(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__q")),
        "__q",
        ["query_id", "__q"],
        cvecs,
        [T.StructField("__probe", T.ArrayType(T.IntegerType()))],
        probes,
    )
    q = _with_vec_norm(probed, "__q", "__qv", "__qn").select(
        "query_id", "__qv", "__qn", F.explode("__probe").alias("__cell")
    )
    scored = assigned.join(F.broadcast(q), on="__cell").select(
        "query_id",
        F.col(id_col),
        _cos_pre(F.col("__cv"), F.col("__qv"), F.col("__cn"), F.col("__qn")).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def embedding_near_dups(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.98,
    num_planes: int | None = None,
    target_bucket_rows: int = 256,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by sign-projection
    LSH bucket: only within-bucket pairs are compared (near-identical
    vectors land in the same bucket with high probability), so the pair
    count is ~n²/2^planes instead of n². Returns (id_a, id_b, cosine).

    ``num_planes`` defaults to ``log2(n / target_bucket_rows)`` so the
    bucket count *scales with the corpus* and expected within-bucket pairs
    stay ~n · target_bucket_rows / 2 — linear in n, not quadratic. A fixed
    plane count (e.g. 16 buckets forever) reverts to n²/16 at 100× scale.
    The sizing count() is one cheap scan at plan-build time.
    """
    pairs = _bucketed_pairs(
        df, vec_col, id_col, num_planes, target_bucket_rows, checkpoint_dir
    )
    return pairs.filter(F.col("cosine") >= threshold)


def _bucketed_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    num_planes: int | None,
    target_bucket_rows: int,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Within-LSH-bucket (id_a, id_b, cosine) pairs — the shared blocking
    stage of near-dup detection and hard-negative mining."""
    if num_planes is None:
        import math

        # two cheap jobs, NOT one merged agg: count() answers from parquet
        # row-group metadata and first() early-exits after one row — a
        # combined agg(count, first) would full-scan the vector column
        n = df.count()
        num_planes = max(4, math.ceil(math.log2(max(n, 1) / target_bucket_rows + 1)))
    first = df.select(vec_col).where(F.col(vec_col).isNotNull()).first()
    lead = None if first is None else first[0]
    if lead is None:
        # empty corpus (or all-NULL vectors): typed empty pair frame
        return df.select(
            F.col(id_col).alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(0.0).alias("cosine"),
        ).limit(0)
    planes = [_hyperplane(p, len(lead)) for p in range(num_planes)]
    from graphique_spark.llm.dedup import ensure_parallelism

    df = ensure_parallelism(df)
    pre = _with_vec_norm(df, vec_col, "__v", "__n")
    # materialized: both join sides consume this frame through *renamed*
    # projections, which blocks exchange reuse — without the cut the
    # num_planes×dim bucket dot products and the norm run twice per row
    docs = materialize(
        pre.select(
            F.col(id_col).alias("id"),
            F.col("__v").alias("v"),
            F.col("__n").alias("nrm"),
            lsh_bucket(F.col("__v"), planes).alias("bucket"),
        ),
        checkpoint_dir,
    )
    left = docs.select(
        "bucket",
        F.col("id").alias("id_a"),
        F.col("v").alias("v_a"),
        F.col("nrm").alias("n_a"),
    )
    right = docs.select(
        "bucket",
        F.col("id").alias("id_b"),
        F.col("v").alias("v_b"),
        F.col("nrm").alias("n_b"),
    )
    cos = _cos_pre(F.col("v_a"), F.col("v_b"), F.col("n_a"), F.col("n_b"))
    return (
        left.join(right, on="bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cos)
        .select("id_a", "id_b", "cosine")
    )


def hard_negatives(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    lo: float = 0.5,
    hi: float = 0.9,
    num_planes: int | None = None,
    target_bucket_rows: int = 256,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: pairs that
    the LSH blocking deems related (same sign-projection bucket) but whose
    cosine sits in the similar-NOT-duplicate band ``[lo, hi)`` — exactly
    the negatives that teach a retriever its decision boundary; random
    negatives are trivially far and near-dups are false negatives.

    Same linear-scaling blocking as :func:`embedding_near_dups` (bucket
    count grows with the corpus), same pair stream — only the cosine band
    differs, so mining negatives costs nothing extra when run beside the
    dedup pass. Returns (id_a, id_b, cosine)."""
    pairs = _bucketed_pairs(
        df, vec_col, id_col, num_planes, target_bucket_rows, checkpoint_dir
    )
    return pairs.filter((F.col("cosine") >= lo) & (F.col("cosine") < hi))


def _dim(df: DataFrame, vec_col: str) -> int | None:
    """Vector dimension from the first row; None when the frame is empty
    or the first vector is NULL (callers decide: typed empty vs error)."""
    first = df.select(vec_col).where(F.col(vec_col).isNotNull()).first()
    return None if first is None else len(first[0])


def _py_bucket(vec: Sequence[float], planes: list[list[float]]) -> int:
    """Driver-side bucket of a literal vector: the kernel's :func:`_fold`,
    matching Spark's ``aggregate`` HOF in :func:`lsh_bucket` bit for bit."""
    v = np.asarray(vec, dtype=np.float64)
    dots = _fold(v, np.asarray(planes, dtype=np.float64).reshape(len(planes), len(v)))
    return sum(1 << p for p, d in enumerate(dots) if d >= 0)


def _probe_masks(num_planes: int, radius: int) -> list[int]:
    from itertools import combinations

    masks = [0]
    for r in range(1, radius + 1):
        for bits in combinations(range(num_planes), r):
            mask = 0
            for b in bits:
                mask |= 1 << b
            masks.append(mask)
    return masks


def knn_join_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    num_planes: int = 4,
    probe_radius: int = 1,
) -> DataFrame:
    """Bucketed k-NN join — the scale path :func:`knn_join` points at.

    Both sides are LSH-bucketed; each query row explodes to its probe
    buckets (hamming <= ``probe_radius``) and equi-joins the corpus on
    ``bucket``. Comparisons scale with bucket occupancy x probe count, not
    |corpus| x |queries|. Approximate: recall follows the LSH collision
    probability; ``probe_radius=num_planes`` degenerates to exact.
    Returns (query_id, vec_id, cosine) with rank <= k per query.
    """
    dim = _dim(corpus, vec_col)
    if dim is None:  # empty corpus (or all-NULL vectors): typed empty
        return queries.select(
            F.col(id_col).alias("query_id"),
            F.col(id_col).alias("vec_id"),
            F.lit(0.0).alias("cosine"),
        ).limit(0)
    planes = [_hyperplane(p, dim) for p in range(num_planes)]
    c = _with_vec_norm(corpus, vec_col, "__cv", "__cn").withColumn(
        "bucket", lsh_bucket(F.col("__cv"), planes)
    )
    masks = _probe_masks(num_planes, probe_radius)
    q = (
        _with_vec_norm(
            queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__q")),
            "__q",
            "__qv",
            "__qn",
        )
        .withColumn("__qb", lsh_bucket(F.col("__qv"), planes))
        .select(
            "query_id",
            "__qv",
            "__qn",
            F.explode(
                F.array(*[F.col("__qb").bitwiseXOR(F.lit(m)) for m in masks])
            ).alias("bucket"),
        )
    )
    scored = c.join(F.broadcast(q), on="bucket").select(
        "query_id",
        F.col(id_col),
        _cos_pre(F.col("__cv"), F.col("__qv"), F.col("__cn"), F.col("__qn")).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def lsh_ann_topk(
    df: DataFrame,
    query: Sequence[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    num_planes: int = 4,
    probe_radius: int = 1,
) -> DataFrame:
    """Approximate top-k with multi-probe: candidates come from every
    bucket within hamming distance ``probe_radius`` of the query's bucket
    (radius 0 = single bucket; 1 probes ``planes+1`` of the ``2^planes``
    buckets — the standard recall/cost dial for sign-projection LSH).

    At scale the bucket column is precomputed and the table partitioned by
    it; a probe set of B buckets is a partition-pruned scan of ~B/2^planes
    of the data, and the bucket filter (an IN on a small literal set) pushes
    down to the parquet scan.
    """
    dim = len(query)
    planes = [_hyperplane(p, dim) for p in range(num_planes)]
    # _py_bucket matches Spark's aggregate HOF bit-for-bit — no Spark job
    # needed
    query_bucket = _py_bucket(query, planes)
    # O(planes^radius) probe set via XOR masks — enumerating all
    # 2^planes buckets is driver-side exponential work at realistic
    # plane counts (24 planes = a 16M-iteration loop for planes+1 hits)
    probe_buckets = sorted(
        query_bucket ^ m for m in _probe_masks(num_planes, probe_radius)
    )
    probed = df.filter(lsh_bucket(F.col(vec_col), planes).isin(probe_buckets))
    return _topk(_query_cosine(probed, query, vec_col, id_col), id_col, k)


def assign_clusters(
    df: DataFrame,
    num_clusters: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Assign every vector to its nearest centroid: one map-side pass of
    the vector kernel, no shuffle of the embeddings. Returns all input
    columns + (cluster, cos_to_centroid).

    Default centroids are the deterministic hash sample (same fixed-k
    machinery as IVF); pass ``centroids=`` from :func:`fit_centroids` for
    k-means quality — the assignment plan is identical.

    The curation use: cluster-balanced sampling and per-cluster quotas —
    corpus diversity control without training a model."""
    if centroids is None:
        centroids = _hash_sampled_centroids(df, num_clusters, vec_col, id_col)
    if not centroids:
        # empty corpus samples zero centroids: typed empty result
        return df.withColumn("cluster", F.lit(0)).withColumn(
            "cos_to_centroid", F.lit(0.0)
        ).limit(0)
    labels, label = _cells([c for c, _ in centroids])
    ltype = _label_type(labels)
    cells = pa.array(labels, to_arrow_type(ltype))

    def emit(cos, null):
        # equal cosines go to the LARGEST cid; an all-NULL row too
        best = _ranked(cos, null, label)[:, 0]
        rows = np.arange(len(best))
        return [
            cells.take(pa.array(label[best])),
            pa.array(cos[rows, best], mask=null[rows, best]),
        ]

    new = ["cluster", "cos_to_centroid"]
    out = _score(
        df,
        vec_col,
        [c for c in df.columns if c not in new],
        [v for _, v in centroids],
        [T.StructField(new[0], ltype, False), T.StructField(new[1], T.DoubleType())],
        emit,
    )
    if set(new) & set(df.columns):
        # an input column of the same name is replaced in place
        out = out.select(*dict.fromkeys([*df.columns, *new]))
    return out


def _label_type(labels: list) -> T.DataType:
    """The Spark type ``F.lit`` gives these centroid ids: INT for Python
    ints that all fit in 32 bits, else BIGINT; STRING; DOUBLE otherwise."""
    if all(isinstance(c, str) for c in labels):
        return T.StringType()
    if all(isinstance(c, (int, np.integer)) for c in labels):
        small = all(-(2**31) <= c < 2**31 for c in labels)
        return T.IntegerType() if small else T.LongType()
    return T.DoubleType()
