"""Similarity search over embedding columns (``array<float>``).

Baseline: exact cosine top-k — the (small) query set is collected once
and broadcast, the corpus streams through a ``mapInArrow`` numpy kernel
that folds dot products one dimension at a time (bit-identical to the
SQL ``zip_with``/``aggregate`` fold) and keeps each chunk's per-query
top-k, and a window partitioned by query ranks the survivors (scales:
each query's ranking is an independent partition).  Exact kNN
classification, whose query set IS the corpus, collects the corpus once
and runs the whole leave-one-out rank and vote in one such kernel stage
(no shuffle); both kernels share :func:`_fold_kit`.

Scale path: IVF-style bucketed search — corpus pre-partitioned into
buckets by random-hyperplane LSH; queries probe only matching buckets.
At 1000 executors the bucket join shuffles a small fraction of the
corpus per query instead of all of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from python_dtl_spark.operators.partitioning import spread as _spread


def _to_double(vec):
    return F.transform(vec, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def _checked_dim(vec, dim: int | None):
    """Fail fast on embedding-dimension mismatch.

    ``zip_with`` pads the shorter array with NULLs, so a wrong ``dim``
    would silently turn every hyperplane dot product NULL and collapse
    all LSH signatures into bucket 0 — results stay correct (the exact
    verify runs on candidates) but candidate generation degrades to a
    near full scan with no error.  This plan-side guard raises with the
    observed size instead; it is a JVM ``CASE WHEN`` per row on
    ``size()``, negligible next to the hashing it protects.
    """
    if dim is None:
        return vec
    return F.when(F.size(vec) == dim, vec).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"embedding dim mismatch: expected {dim}, got "),
                F.size(vec).cast("string"),
            )
        )
    )


def _infer_dim(df, vec_col: str) -> int:
    """Embedding dimensionality from the first row, with a clear error
    for the two cases where ``len(first()[0])`` raises an opaque
    TypeError: an empty frame (first() is None) and a NULL first
    embedding.  Callers avoid the inference job entirely by passing
    ``dim=`` explicitly."""
    row = df.select(vec_col).first()
    if row is None or row[0] is None:
        raise ValueError(
            f"cannot infer embedding dim: first {vec_col!r} row is "
            "missing or NULL (empty input?) — pass dim= explicitly"
        )
    return len(row[0])


#: Corpus rows × queries scored per kernel step in :func:`cosine_topk`
#: and in the exact tier of :func:`knn_classify`.  Bounds each float64
#: work matrix (dot products, cosines, sort keys) to 4 MB; a step keeps
#: at least one row of its streaming side however wide the other.
_KERNEL_CELLS = 1 << 19

#: Query × corpus cells one Python task of :func:`knn_classify`'s exact
#: tier scores before a second task pays off.  A Python task has a fixed
#: CPU cost of 0.16-0.2 s on a 4-vCPU x86 host under CPython 3.11
#: (pyspark's worker setup re-reads the zip directories of its own
#: archives on every task); the kernel scores, ranks and votes about
#: 1M cells in that time (0.19 µs a cell at 64 dimensions).  So the
#: stage runs ceil(n² / CELLS_PER_TASK) tasks, at most
#: ``defaultParallelism``: one for 500 vectors, four for 2,000.
CELLS_PER_TASK = 1_000_000


#: Above this many query vectors, the broadcast side of the exact scan
#: stops being "small": the driver must collect and every executor must
#: hold queries × dim × 8 bytes (1M × 64-dim doubles ≈ 512 MB) — use
#: :func:`lsh_bucketed_topk` / :func:`ivf_topk` instead, which shuffle
#: candidates rather than replicating the query set.
MAX_BROADCAST_QUERIES = 100_000


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    include_self: bool = False,
    num_queries: int | None = None,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Output: (query_id, neighbor_id, rank, cosine) — rank 1 = best; ties
    broken by neighbor id for determinism.

    This is the exact baseline: one full corpus scan per query *batch*
    (not per query), legal only while the query set broadcasts — every
    executor holds all query vectors (queries × dim × 8 bytes each).
    Pass ``num_queries`` when known; beyond ``MAX_BROADCAST_QUERIES``
    the call refuses before any job runs and the caller should switch
    to :func:`lsh_bucketed_topk` or :func:`ivf_topk`.  Without the
    hint, the one job this call runs — a collect of at most
    ``MAX_BROADCAST_QUERIES + 1`` query rows — enforces the same bound.

    Scale shape: the collected queries ship once per executor as a
    broadcast (ids, one float64 matrix per vector length, norms), and the
    corpus streams through a ``mapInArrow`` kernel in chunks of at most
    ``_KERNEL_CELLS`` corpus-row × query cells.  Each chunk keeps, per
    query, only the candidates at or above its own k-th best cosine
    (ties kept), so the ranking window sees about chunks × queries × k
    rows instead of corpus × queries.

    Values are bit-identical to the SQL fold ``aggregate(zip_with(c, q,
    x * y), 0.0, acc + x)`` divided by the product of the two norms
    folded the same way: the kernel adds one dimension at a time,
    left to right, with separate multiply and add ufuncs (a BLAS
    product or a fused multiply-add would reorder or fuse the sums).
    Spark's semantics carry over: a NULL vector, a NULL element or a
    dimension mismatch gives a NULL cosine; a zero divisor (a zero
    vector) gives NULL, or raises ``DIVIDE_BY_ZERO`` when
    ``spark.sql.ansi.enabled`` is on; the order is NaN first, then
    descending values with ``-0.0`` tied to ``0.0``, NULL last.  With
    ``include_self=False`` a pair is dropped when its ids are equal or
    either id is NULL, as ``neighbor_id != query_id`` does; the two id
    columns must then share a type.
    """
    if num_queries is not None and num_queries > MAX_BROADCAST_QUERIES:
        raise ValueError(
            f"cosine_topk broadcasts the query set to every executor; "
            f"{num_queries} queries exceeds MAX_BROADCAST_QUERIES="
            f"{MAX_BROADCAST_QUERIES}. Use lsh_bucketed_topk or ivf_topk "
            f"for large query sets."
        )
    c = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"), _to_double(F.col(vec_col)).alias("__cv")
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), _to_double(F.col(vec_col)).alias("__qv")
    )
    q_type = q.schema["query_id"].dataType
    c_type = c.schema["neighbor_id"].dataType
    if not include_self and q_type != c_type:
        raise ValueError(
            "cosine_topk(include_self=False) compares query and corpus "
            f"ids; their types differ ({q_type.simpleString()} vs "
            f"{c_type.simpleString()}) — cast one side first"
        )
    collected = q.limit(MAX_BROADCAST_QUERIES + 1).toArrow()
    if collected.num_rows > MAX_BROADCAST_QUERIES:
        raise ValueError(
            f"cosine_topk broadcasts the query set to every executor; "
            f"more than MAX_BROADCAST_QUERIES={MAX_BROADCAST_QUERIES} "
            f"queries arrived. Use lsh_bucketed_topk or ivf_topk for "
            f"large query sets."
        )
    ansi = corpus.sparkSession.conf.get("spark.sql.ansi.enabled").lower() == "true"
    schema = StructType(
        [
            StructField("query_id", q_type),
            StructField("neighbor_id", c_type),
            StructField("cosine", DoubleType()),
        ]
    )
    kernel = _cosine_kernel(corpus.sparkSession, collected, k, include_self, ansi)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        c.mapInArrow(kernel, schema)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _fold_kit():
    """The numpy code the fold kernels share, as closures: ``prepare``
    and ``by_length`` group list<double> rows by length, ``cosines``
    scores two groupings against each other, ``sort_key`` orders the
    cosines as Spark sorts them, and ``check_zero`` raises where ANSI
    division would.

    Kernel factories call this on the driver and use the closures in
    theirs, so everything ships by value and the workers never import
    this package.
    """
    import numpy as np

    null_key = np.iinfo(np.int64).min

    def prepare(vecs):
        """Per row of a list<double> array: whether it has no NULL
        vector and no NULL element, its start offset, its length; and
        the flat values."""
        offsets = vecs.offsets.to_numpy()
        values = vecs.values
        ok = ~vecs.is_null().to_numpy(zero_copy_only=False)
        if values.null_count:
            nulls = np.cumsum(values.is_null().to_numpy(zero_copy_only=False))
            nulls = np.concatenate(([0], nulls))
            ok &= nulls[offsets[1:]] == nulls[offsets[:-1]]
        vals = values.to_numpy(zero_copy_only=False)
        return ok, offsets[:-1], np.diff(offsets), vals

    def by_length(prepared, lo, hi):
        """Rows ``lo:hi`` that have a fold, grouped by length: length ->
        (row offsets from ``lo``, values as a length × rows matrix,
        norms)."""
        ok, start, length, vals = prepared
        rows = np.nonzero(ok[lo:hi])[0]
        lengths = length[lo:hi][rows]
        groups = {}
        for n in np.unique(lengths):
            sel = rows[lengths == n]
            at = vals[start[lo + sel][None, :] + np.arange(n)[:, None]]
            groups[int(n)] = (sel, at, fold_norm(at))
        return groups

    def fold_dot(at, bt):
        """acc[i, j] = (((0.0 + a0*b0) + a1*b1) + ...) over dimensions,
        as ``aggregate(zip_with(a, b, x * y), 0.0, acc + x)`` sums."""
        acc = np.zeros((at.shape[1], bt.shape[1]))
        prod = np.empty_like(acc)
        with np.errstate(all="ignore"):  # inf and NaN are values here
            for a, b in zip(at, bt):
                np.multiply(a[:, None], b[None, :], out=prod)
                np.add(acc, prod, out=acc)
        return acc

    def fold_norm(at):
        acc = np.zeros(at.shape[1])
        with np.errstate(all="ignore"):
            for a in at:
                acc = np.add(acc, np.multiply(a, a))
        return np.sqrt(acc)

    def cosines(a, na, b, nb):
        """(cosine, null mask, zero-divisor mask) of the ``na`` × ``nb``
        rows of two :func:`by_length` groupings; pairs without a fold
        are NULL.  Products commute bit for bit, so either side may be
        the corpus."""
        cos = np.full((na, nb), np.nan)
        null = np.ones((na, nb), dtype=bool)
        zero = np.zeros((na, nb), dtype=bool)
        for n, (rows, at, an) in a.items():
            if n not in b:
                continue
            cols, bt, bn = b[n]
            with np.errstate(all="ignore"):
                den = np.multiply(an[:, None], bn[None, :])
                block = np.divide(fold_dot(at, bt), den)
            if len(rows) == na and len(cols) == nb:
                cos, null, zero = block, den == 0.0, den == 0.0
            else:
                cells = np.ix_(rows, cols)
                cos[cells], null[cells], zero[cells] = block, den == 0.0, den == 0.0
        return cos, null, zero

    def sort_key(cos, low):
        """int64 order of the cosine bits, -0.0 folded into 0.0, one
        canonical NaN above +inf; ``low`` cells (NULL cosines, excluded
        pairs) get the lowest key."""
        canon = np.where(np.isnan(cos), np.nan, cos + 0.0)
        key = canon.view(np.int64)
        key = np.where(key < 0, key ^ np.int64(0x7FFFFFFFFFFFFFFF), key)
        key[low] = null_key
        return key

    def check_zero(ansi, zero, excluded):
        """A zero divisor is a NULL cosine, or with ANSI on the error
        Spark's division raises; excluded pairs are never divided."""
        if ansi and (zero & ~excluded).any():
            raise ArithmeticError(
                "[DIVIDE_BY_ZERO] Division by zero: a cosine scored a "
                "zero-norm vector (spark.sql.ansi.enabled)"
            )

    return prepare, by_length, cosines, sort_key, check_zero


def _cosine_kernel(spark, collected, k: int, include_self: bool, ansi: bool):
    """The ``mapInArrow`` function of :func:`cosine_topk`: the query
    side (``collected``: query_id, __qv) is prepared here and broadcast
    once; the returned closure scores (neighbor_id, __cv) batches."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    prepare, by_length, cosines, sort_key, check_zero = _fold_kit()
    qids = collected.column("query_id").combine_chunks()
    qvecs = collected.column("__qv").combine_chunks()
    m = len(qids)
    query_groups = by_length(prepare(qvecs), 0, m)
    q_null = qids.is_null().to_numpy(zero_copy_only=False)
    q_code = pc.index_in(qids, value_set=qids).fill_null(-2).to_numpy()
    b_query = spark.sparkContext.broadcast((qids, q_null, q_code, query_groups))
    step = max(1, _KERNEL_CELLS // max(m, 1))

    def kernel(batches):
        if k < 1:
            return
        qids, q_null, q_code, groups = b_query.value
        for batch in batches:
            cids, prepared = batch.column(0), prepare(batch.column(1))
            if not include_self:
                c_null = cids.is_null().to_numpy(zero_copy_only=False)
                c_code = pc.index_in(cids, value_set=qids).fill_null(-1).to_numpy()
            for lo in range(0, batch.num_rows, step):
                hi = min(lo + step, batch.num_rows)
                rows = hi - lo
                cos, null, zero = cosines(by_length(prepared, lo, hi), rows, groups, m)
                if include_self:
                    excluded = np.zeros_like(null)
                else:
                    excluded = (
                        (c_code[lo:hi, None] == q_code[None, :])
                        | c_null[lo:hi, None]
                        | q_null[None, :]
                    )
                check_zero(ansi, zero, excluded)
                key = sort_key(cos, null | excluded)
                keep = ~excluded
                if rows > k:
                    kth = np.partition(key, rows - k, axis=0)[rows - k]
                    keep &= key >= kth[None, :]
                ii, jj = np.nonzero(keep)
                if len(ii) == 0:
                    continue
                yield pa.RecordBatch.from_arrays(
                    [
                        qids.take(pa.array(jj)),
                        cids.take(pa.array(lo + ii)),
                        pa.array(cos[ii, jj], mask=null[ii, jj]),
                    ],
                    names=["query_id", "neighbor_id", "cosine"],
                )

    return kernel


def _knn_kernel(spark, collected, k: int, tasks: int, ansi: bool, names):
    """The ``mapInArrow`` function of :func:`knn_classify`'s exact tier.

    ``collected`` (id, vec, label) is the whole corpus.  It is sorted by
    id here, so neighbor-id order is row order, its labels are coded in
    ascending order, and all of it is broadcast once.  The returned
    closure maps slice numbers ``0 .. tasks - 1`` to the (id,
    predicted_label, votes) rows of that slice of the queries: every
    query meets every corpus vector inside one task, so its top k and
    its vote are complete there.  ``names`` names the output columns.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    prepare, by_length, cosines, sort_key, check_zero = _fold_kit()
    collected = collected.take(pc.sort_indices(collected, [("id", "ascending")]))
    ids = collected.column("id").combine_chunks()
    labels = collected.column("label").combine_chunks()
    values = pc.unique(labels.drop_null())
    values = values.take(pc.sort_indices(values))
    code = pc.index_in(labels, value_set=values).fill_null(-1).to_numpy()
    id_null = ids.is_null().to_numpy(zero_copy_only=False)
    prepared = prepare(collected.column("vec").combine_chunks())
    b_corpus = spark.sparkContext.broadcast((ids, id_null, prepared, values, code))
    n = len(ids)
    step = max(1, _KERNEL_CELLS // max(n, 1))

    def first_of_runs(*cols):
        """Where a run of equal tuples starts, in arrays sorted by them."""
        first = np.ones(len(cols[0]), dtype=bool)
        for c in cols:
            first[1:] &= c[1:] == c[:-1]
        first[1:] = ~first[1:]
        return first

    def vote(lo, hi, corpus, ids, id_null, prepared, values, code):
        s = hi - lo
        cos, null, zero = cosines(by_length(prepared, lo, hi), s, corpus, n)
        # leave one out: a pair is excluded when its ids are equal (ids
        # are unique, so that is the query itself) or either is NULL
        excluded = id_null[lo:hi, None] | id_null[None, :]
        excluded[np.arange(s), np.arange(lo, hi)] = True
        check_zero(ansi, zero, excluded)
        key = sort_key(cos, null | excluded)
        keep = ~excluded
        if n > k:
            kth = np.partition(key, n - k, axis=1)[:, n - k]
            keep &= key >= kth[:, None]
        # exact top k: cosine descending, then neighbor id ascending
        qi, nj = np.nonzero(keep)
        order = np.lexsort((nj, ~key[qi, nj], qi))
        qi, nj = qi[order], nj[order]
        rank = np.arange(len(qi)) - np.searchsorted(qi, qi)
        lab = code[nj]
        voted = (rank < k) & (lab >= 0)  # NULL labels cast no vote
        qi, rank, lab = qi[voted], rank[voted], lab[voted]
        # votes and best rank per (query, label)
        order = np.lexsort((rank, lab, qi))
        qi, rank, lab = qi[order], rank[order], lab[order]
        starts = np.nonzero(first_of_runs(qi, lab))[0]
        votes = np.diff(np.append(starts, len(qi)))
        qi, rank, lab = qi[starts], rank[starts], lab[starts]
        # winner: votes descending, best rank ascending, label ascending
        order = np.lexsort((lab, rank, -votes, qi))
        qi, lab, votes = qi[order], lab[order], votes[order]
        win = first_of_runs(qi)
        return pa.RecordBatch.from_arrays(
            [
                ids.take(pa.array(lo + qi[win])),
                values.take(pa.array(lab[win])),
                pa.array(votes[win], type=pa.int64()),
            ],
            names=names,
        )

    def kernel(batches):
        if k < 1:
            return
        ids, id_null, prepared, values, code = b_corpus.value
        corpus = by_length(prepared, 0, n)
        for batch in batches:
            for part in batch.column(0).to_numpy():
                start, stop = part * n // tasks, (part + 1) * n // tasks
                for lo in range(start, stop, step):
                    out = vote(
                        lo, min(lo + step, stop), corpus,
                        ids, id_null, prepared, values, code,
                    )
                    if out.num_rows:
                        yield out

    return kernel


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    planes: int = 8,
    seed: int = 11,
    multiprobe_bits: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH bucketing + multiprobe.

    The corpus is hashed once into 2^planes buckets; each query probes
    its own bucket plus all buckets within Hamming distance
    ``multiprobe_bits``.  Recall/latency trades off via ``planes`` and
    ``multiprobe_bits``.  Same output schema as ``cosine_topk``.

    Pass ``dim`` (the embedding dimensionality) so plan construction is
    action-free; when omitted, a single-row job runs to infer it, which
    is an extra Spark job per call at scale.  A ``dim`` that disagrees
    with the data raises at execution time (see :func:`_checked_dim`)
    instead of silently collapsing every signature to bucket 0.
    """
    import random

    rng = random.Random(seed)
    if dim is None:
        dim = _infer_dim(corpus, vec_col)
    hyperplanes = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(planes)]

    # ONE nested-array literal (built once here — F.lit of a nested
    # list still expands element-wise through py4j, but only at this
    # site, and the analyzed tree is one constant-folded nested array)
    # + 5 lambdas, instead of per-plane literal Columns with 3 lambda
    # resolutions each (r20): plan construction dominated consumers of
    # this builder — see dedup._plane_signature, the same rewrite with
    # the same bit-for-bit value-identity argument (inner fold
    # unchanged via _dot; bit packing is an exact integer sum).
    if planes < 1:
        # F.lit([]) types as array<null>; lambdas over a NullType
        # variable fail analysis — and a 0-plane LSH is meaningless
        raise ValueError("hyperplane LSH needs at least 1 plane")
    bits = F.lit([1 << p for p in range(planes)])
    planes_lit = F.lit([[float(w) for w in plane] for plane in hyperplanes])

    def signature(vec):
        dots = F.transform(planes_lit, lambda plane: _dot(vec, plane))
        return F.aggregate(
            F.zip_with(
                dots,
                bits,
                lambda d, b: F.when(d > 0, b).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    c = (
        _spread(corpus).select(
            F.col(id_col).alias("neighbor_id"),
            _checked_dim(_to_double(F.col(vec_col)), dim).alias("__cv"),
        )
        .withColumn("__cn", _norm(F.col("__cv")))
        .withColumn("__bucket", signature(F.col("__cv")))
    )
    q = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            _checked_dim(_to_double(F.col(vec_col)), dim).alias("__qv"),
        )
        .withColumn("__qn", _norm(F.col("__qv")))
        .withColumn("__sig", signature(F.col("__qv")))
    )
    # ALL buckets within Hamming distance multiprobe_bits, as the
    # docstring promises (previously only single-bit flips were probed
    # whatever the setting): XOR masks for every <=multiprobe_bits
    # subset of planes.  Probe count is sum(C(planes, r)) — guarded,
    # since it grows combinatorially.
    import itertools

    masks = [0]
    for r in range(1, multiprobe_bits + 1):
        for combo in itertools.combinations(range(planes), r):
            m = 0
            for pl in combo:
                m |= 1 << pl
            masks.append(m)
    if len(masks) > 4096:
        raise ValueError(
            f"multiprobe_bits={multiprobe_bits} over {planes} planes "
            f"means {len(masks)} probe buckets per query; lower one of "
            "them (or raise planes instead of probing wider)"
        )
    probe_buckets = [
        F.col("__sig") if m == 0 else F.col("__sig").bitwiseXOR(F.lit(m))
        for m in masks
    ]
    q = q.select(
        "query_id", "__qv", "__qn", F.explode(F.array(*probe_buckets)).alias("__bucket")
    )
    # no forced broadcast: the bucket join is a plain equi-join, so
    # Catalyst/AQE broadcast a small query set and SHUFFLE a large one
    # — this is the path the MAX_BROADCAST_QUERIES guard routes
    # oversized query sets to, so it must not replicate them itself
    joined = c.join(q, on="__bucket", how="inner").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = joined.withColumn(
        "cosine", _dot(F.col("__cv"), F.col("__qv")) / (F.col("__cn") * F.col("__qn"))
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 13,
    fit_sample: int = 100_000,
    fit_fraction: float | None = None,
) -> DataFrame:
    """Approximate top-k via IVF (inverted file) partitioning.

    Classic two-stage ANN: K-Means coarse quantizer assigns every corpus
    vector to its nearest centroid (one shuffle-free model.transform
    pass); each query probes the ``n_probe`` nearest centroids and scores
    only those partitions' vectors.  Versus LSH bucketing
    (:func:`lsh_bucketed_topk`) the partitions adapt to the data
    distribution, which keeps recall stable on clustered embeddings.

    Scale shape: the quantizer is fit on a bounded sample
    (``fit_sample`` rows, collected nowhere — spark.ml iterates
    distributed), centroids are a tiny driver-side literal
    (n_centroids × dim floats) compiled into the query probe
    expression, and the probe join shuffles ~n_probe/n_centroids of
    the corpus per query batch instead of all of it.

    The default fit sample takes ``fit_sample / num_partitions`` rows
    from the head of EVERY partition — no ``count()`` pass, and unlike
    a plain ``limit(fit_sample)`` it is not a physical prefix of the
    first file(s): data written clustered by category/time/source
    still contributes vectors from every partition, so the quantizer
    sees every region of the embedding space.  The per-partition index
    comes from the low 33 bits of ``monotonically_increasing_id`` —
    pure JVM filter, no Python workers, no shuffle.  At 100 TB pass
    ``fit_fraction`` (e.g. 1e-6) for a true uniform sample instead.
    """
    c_base = _spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        _to_double(F.col(vec_col)).alias("__cv"),
    ).withColumn("__cn", _norm(F.col("__cv")))

    centroids = fit_centroids(
        c_base.select("__cv"),
        n_centroids=n_centroids,
        seed=seed,
        fit_sample=fit_sample,
        fit_fraction=fit_fraction,
    )

    c = c_base.withColumn(
        "__bucket", nearest_centroids("__cv", centroids, 1)[0]["cid"]
    )
    q = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            _to_double(F.col(vec_col)).alias("__qv"),
        )
        .withColumn("__qn", _norm(F.col("__qv")))
        .withColumn(
            "__bucket",
            F.explode(
                F.transform(
                    nearest_centroids("__qv", centroids, n_probe),
                    lambda s: s["cid"],
                )
            ),
        )
    )
    # plain equi-join (no broadcast hint): AQE broadcasts small query
    # sets at runtime and shuffles large ones — see lsh_bucketed_topk
    joined = c.join(q, on="__bucket", how="inner").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = joined.withColumn(
        "cosine", _dot(F.col("__cv"), F.col("__qv")) / (F.col("__cn") * F.col("__qn"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


#: Fitted coarse-quantizer memo — the "build the index once" half of an
#: IVF/SemDedup system.  Keyed on the *semantic* hash of the training
#: plan (stable across re-builds of the same logical query, unlike the
#: analyzed plan string whose expression ids change every construction)
#: plus every fit parameter.  An ANN system that re-trained its
#: quantizer on every query would be mis-designed at any scale; with
#: the memo, repeated queries against the same corpus pay the fit once
#: per process — exactly the FileSystemImporter schema-memo contract
#: (sources/__init__.py), including an explicit invalidation hook.
_KMEANS_MEMO: dict[tuple, object] = {}
_KMEANS_MEMO_MAX = 32


def clear_kmeans_memo() -> None:
    """Drop all memoized quantizer models (e.g. after overwriting the
    corpus a model was trained on).  Registered with
    ``sources.INVALIDATION_HOOKS``, so ``FileSystemImporter.
    invalidate()`` clears stale quantizers along with stale plans —
    the one call sites already make after rewriting a table."""
    _KMEANS_MEMO.clear()


from python_dtl_spark import sources as _sources  # noqa: E402

_sources.INVALIDATION_HOOKS.append(clear_kmeans_memo)


def fit_kmeans(
    vectors: DataFrame,
    n_centroids: int,
    seed: int,
    fit_sample: int = 100_000,
    fit_fraction: float | None = None,
    memo: bool = True,
):
    """Fit a K-Means coarse quantizer on a bounded sample and return
    the fitted ``KMeansModel``.

    Shared by :func:`fit_centroids` (IVF's literal-expression path)
    and the SemDedup clustering stage (``dedup.semdedup``), which
    assigns clusters via the model's native JVM ``transform`` — the
    literal-centroid expression is O(n_centroids × dim) PER ROW in
    codegen and measured to OOM the driver near ~500 centroids × 64
    dims, while ``transform`` stays flat because the centers live in
    one broadcast model object.  ``vectors`` is a single-column
    DataFrame of ``array<double>`` named ``__cv``.

    The default sample takes ``fit_sample / num_partitions`` rows from
    the head of EVERY partition — no ``count()`` pass, and unlike a
    plain ``limit(fit_sample)`` it is not a physical prefix of the
    first file(s): data written clustered by category/time/source
    still contributes vectors from every partition, so the quantizer
    sees every region of the embedding space.  The per-partition index
    comes from the low 33 bits of ``monotonically_increasing_id`` —
    pure JVM filter, no Python workers, no shuffle.  At 100 TB pass
    ``fit_fraction`` (e.g. 1e-6) for a true uniform sample instead.

    ``memo=True`` (default) reuses an already-fitted model for the
    same (training plan, parameters) within the process — index build
    happens once, queries share it (see ``_KMEANS_MEMO``).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    key = None
    if memo:
        try:
            key = (
                # applicationId scopes the memo to the live session: a
                # JVM-backed model from a stopped SparkSession is dead
                # (transform() fails), so a restarted session re-fits
                vectors.sparkSession.sparkContext.applicationId,
                vectors.semanticHash(),
                tuple(vectors.columns),
                n_centroids,
                seed,
                fit_sample,
                fit_fraction,
            )
        except Exception:  # pragma: no cover - semanticHash is a dev API
            key = None
        if key in _KMEANS_MEMO:
            return _KMEANS_MEMO[key]

    train = vectors
    if fit_fraction is not None:
        train = train.sample(fraction=fit_fraction, seed=seed)
    else:
        # estimate the partition count from the cluster's parallelism
        # rather than train.rdd.getNumPartitions(), which would force
        # physical planning (RDD conversion) during plan construction;
        # the quota only needs an order-of-magnitude partition estimate
        n_parts = max(1, vectors.sparkSession.sparkContext.defaultParallelism)
        quota = max(1, fit_sample // n_parts)
        # monotonically_increasing_id = partitionId * 2^33 + index
        # within the partition, so the low bits ARE the per-partition
        # row index
        row_in_part = F.monotonically_increasing_id().bitwiseAND(
            F.lit((1 << 33) - 1)
        )
        train = train.filter(row_in_part < quota)
    train = train.select(array_to_vector("__cv").alias("features"))
    # Compact the bounded sample before the iterative fit: KMeans runs
    # ~25 jobs (k-means|| init passes + iterations) over whatever
    # partitioning the sample inherits — on a wide input that is one
    # barrier job per iteration across EVERY input partition for ≤100k
    # rows of actual data, and per-task overhead dominates (measured
    # 4.97 s → 1.36 s at 32 partitions → 1).  ~25k vectors per task
    # keeps iteration tasks busy but bounded; repartition (a real
    # shuffle of ≤ tens of MB) rather than coalesce, which would fuse
    # upward and throttle the sampling scan itself.  ONLY on the
    # bounded quota path: a fit_fraction sample has no size bound
    # (1e-3 of 10^10 rows is 10^7 vectors), and squeezing it into
    # fit_sample-derived width would serialize the fit — there the
    # sample keeps its natural partitioning.
    if fit_fraction is None:
        n_fit_parts = max(1, min(64, fit_sample // 25_000))
        train = train.repartition(n_fit_parts)
    model = KMeans(k=n_centroids, seed=seed, featuresCol="features").fit(train)
    if key is not None:
        if len(_KMEANS_MEMO) >= _KMEANS_MEMO_MAX:
            _KMEANS_MEMO.pop(next(iter(_KMEANS_MEMO)))
        _KMEANS_MEMO[key] = model
    return model


def fit_centroids(
    vectors: DataFrame,
    n_centroids: int,
    seed: int,
    fit_sample: int = 100_000,
    fit_fraction: float | None = None,
) -> list[list[float]]:
    """Centroids of :func:`fit_kmeans` as a driver-side literal
    (n_centroids × dim floats) — the form :func:`ivf_topk` compiles
    into its probe expressions.  Sized for SMALL centroid counts
    (n_probe-style coarse quantizers); for large n_centroids use the
    model's ``transform`` directly (see :func:`fit_kmeans`)."""
    model = fit_kmeans(
        vectors,
        n_centroids=n_centroids,
        seed=seed,
        fit_sample=fit_sample,
        fit_fraction=fit_fraction,
    )
    return [list(map(float, c)) for c in model.clusterCenters()]


def nearest_centroids(vec_sql: str, centroids: list[list[float]], n: int):
    """Column expression: array of the n nearest centroid ids, computed
    JVM-side from centroid literals (sq-distance, sort, slice).

    ``vec_sql`` is the vector column's SQL name/expression text: the
    whole probe is ONE parsed ``F.expr`` string because building
    n_centroids × dim literals through the Python↔JVM Column API
    dominated query *construction* time (same finding as
    ``random_projection`` — the JVM parses the equivalent SQL text an
    order of magnitude faster).  Math is term-for-term identical, and
    ``array_sort`` on (dist, cid) structs keeps the same
    field-order-lexicographic tie-break."""

    def arr(cent: list[float]) -> str:
        return "array(" + ",".join(f"{w!r}D" for w in cent) + ")"

    structs = ",".join(
        f"named_struct('dist', aggregate(zip_with({vec_sql}, {arr(cent)}, "
        "(a, b) -> (a - b) * (a - b)), 0.0D, (acc, x) -> acc + x), "
        f"'cid', {cid})"
        for cid, cent in enumerate(centroids)
    )
    return F.expr(f"slice(array_sort(array({structs})), 1, {n})")


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rescore_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    num_queries: int | None = None,
) -> DataFrame:
    """Two-stage top-k: int8-quantized candidate scoring, exact rescore.

    The flat-index compression pattern (FAISS "SQ8"): stage 1 scans the
    corpus scoring candidates with symmetric-int8 dot products — 4×
    less data movement per vector than float64 and exact INTEGER
    arithmetic (64 dims × 127² keeps every partial sum < 2³⁰, so the
    fold is exactly reproducible in any engine and any order); stage 2
    rescores only the top ``k × rescore_factor`` candidates per query
    with exact double cosine.  Output schema matches
    :func:`cosine_topk` (query_id, neighbor_id, rank).

    Fully deterministic end to end — quantization, integer dots, both
    tie-breaks (approx DESC then id; cosine DESC then id) — so unlike
    LSH/IVF this approximate path carries a full value oracle on ANY
    corpus, no planted fixture needed.

    Scale shape: same broadcast contract as :func:`cosine_topk` (the
    query set replicates to every executor; ``MAX_BROADCAST_QUERIES``
    guard applies), but stage 1 carries ONLY the int8 representation —
    no full-dimension vector rides the candidate-rank exchange (the
    partial-top-k rows each map task ships are (id, q8, scale), ~4×
    narrower than dragging the double vector along).  The exact
    rescore then joins the surviving ``k × rescore_factor`` candidate
    ids back to the corpus (candidates broadcast — the corpus-side
    scan prunes to (id, vec) and at 100 TB benefits from AQE runtime
    filtering) and to the query set (broadcast).  The full-dim double
    math touches only candidates.
    """
    if num_queries is not None and num_queries > MAX_BROADCAST_QUERIES:
        raise ValueError(
            f"quantized_topk broadcasts the query set to every executor; "
            f"{num_queries} queries exceeds MAX_BROADCAST_QUERIES="
            f"{MAX_BROADCAST_QUERIES}. Use lsh_bucketed_topk or ivf_topk "
            f"for large query sets."
        )

    def staged(df, idc, id_alias, prefix):
        v = _to_double(F.col(vec_col))
        max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
        # int (4 B), not long (8 B): values are in [-127, 127], and an
        # array<bigint> would be exactly as wide as the double vectors
        # the quantized stage exists to avoid shipping; the dot-product
        # accumulator below is still long (int*int products are
        # promoted), so no overflow
        qv = F.when(
            max_abs == 0.0,
            F.transform(v, lambda x: F.lit(0).cast("int")),
        ).otherwise(
            F.transform(
                v, lambda x: F.round(x * F.lit(127.0) / max_abs, 0).cast("int")
            )
        )
        return df.select(
            F.col(idc).alias(id_alias),
            qv.alias(f"{prefix}q"),
            (max_abs / F.lit(127.0)).alias(f"{prefix}s"),
        )

    c = staged(_spread(corpus), id_col, "neighbor_id", "__c")
    q = staged(queries, query_id_col, "query_id", "__q")
    joined = c.join(broadcast(q), how="cross").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    int_dot = F.aggregate(
        F.zip_with(F.col("__cq"), F.col("__qq"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    approx = int_dot.cast("double") * F.col("__cs") * F.col("__qs")
    w_approx = Window.partitionBy("query_id").orderBy(
        F.desc("__approx"), F.asc("neighbor_id")
    )
    candidates = (
        joined.withColumn("__approx", approx)
        .withColumn("__arank", F.row_number().over(w_approx))
        .filter(F.col("__arank") <= k * rescore_factor)
        .select("query_id", "neighbor_id")
    )
    return _rescore_exact(
        candidates, corpus, queries, k, id_col, vec_col, query_id_col
    )


def _rescore_exact(
    candidates: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Shared stage 2 of the two-stage top-k paths: join the (tiny)
    candidate id set back to the full-dimension vectors and rank by
    exact cosine (DESC, neighbor id ASC).

    ``candidates`` is at most queries × k × rescore_factor rows of two
    ids — it broadcasts, so the corpus-side lookup is a broadcast hash
    join over a scan pruned to (id, vec); the query vectors broadcast
    too.  Stage 1 therefore never needs to carry a full-dim vector.
    """
    c_full = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _to_double(F.col(vec_col)).alias("__cv"),
    )
    q_full = queries.select(
        F.col(query_id_col).alias("query_id"),
        _to_double(F.col(vec_col)).alias("__qv"),
    )
    rescored = c_full.join(broadcast(candidates), on="neighbor_id").join(
        broadcast(q_full), on="query_id"
    )
    cosine = _dot(F.col("__cv"), F.col("__qv")) / (
        _norm(F.col("__cv")) * _norm(F.col("__qv"))
    )
    w_exact = Window.partitionBy("query_id").orderBy(
        F.desc("__cos"), F.asc("neighbor_id")
    )
    return (
        rescored.withColumn("__cos", cosine)
        .withColumn("rank", F.row_number().over(w_exact))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def projected_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rescore_factor: int = 4,
    proj_dim: int = 32,
    seed: int = 7,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    num_queries: int | None = None,
) -> DataFrame:
    """Coarse search in a JL-projected space, exact full-dim rescore.

    The dimension-reduction analogue of :func:`quantized_topk`:
    stage 1 scores candidates with ``proj_dim``-dim dot products over
    :func:`~python_dtl_spark.operators.embeddings.random_projection`
    vectors (2× less arithmetic at 64→32), stage 2 rescores the top
    ``k × rescore_factor`` with exact full-dimension cosine.  Both the
    projection (literal seeded matrix) and the tie-breaks are
    deterministic, so the operator is value-oracled on any corpus.
    Same broadcast contract and output schema as :func:`cosine_topk`
    (query_id, neighbor_id, rank).

    Like :func:`quantized_topk`, stage 1 carries only (id, 32-dim
    projection) — 2× narrower per corpus row than dragging the 64-dim
    vector through the candidate-rank exchange — and
    :func:`_rescore_exact` joins the surviving candidate ids back to
    the full vectors.

    ``proj_dim`` defaults to 32: the coarse pool crowds as the corpus
    grows, and the recall@10 ladder measured under replication
    (SCALING.md) is 16 dims — 0.694 at 8× (0.963 even at
    rescore_factor 16); 24 dims — 1.000 at 8× but 0.875 at 32×;
    32 dims — 1.000 at both, at the same wall time.  Widening the
    projection beats inflating rescore_factor (24-dim at factor 8
    still only reached 0.988 at 32×).
    """
    from python_dtl_spark.operators.embeddings import random_projection

    if num_queries is not None and num_queries > MAX_BROADCAST_QUERIES:
        raise ValueError(
            f"projected_topk broadcasts the query set to every executor; "
            f"{num_queries} queries exceeds MAX_BROADCAST_QUERIES="
            f"{MAX_BROADCAST_QUERIES}. Use lsh_bucketed_topk or ivf_topk "
            f"for large query sets."
        )

    def staged(df, idc, id_alias, prefix):
        proj = random_projection(
            df, vec_col=vec_col, out_col="__rp", dim=dim, out_dim=proj_dim,
            seed=seed,
        )
        return proj.select(
            F.col(idc).alias(id_alias),
            F.col("__rp").alias(f"{prefix}p"),
        )

    c = staged(_spread(corpus), id_col, "neighbor_id", "__c")
    q = staged(queries, query_id_col, "query_id", "__q")
    joined = c.join(broadcast(q), how="cross").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    coarse = _dot(F.col("__cp"), F.col("__qp"))
    w_coarse = Window.partitionBy("query_id").orderBy(
        F.desc("__coarse"), F.asc("neighbor_id")
    )
    candidates = (
        joined.withColumn("__coarse", coarse)
        .withColumn("__crank", F.row_number().over(w_coarse))
        .filter(F.col("__crank") <= k * rescore_factor)
        .select("query_id", "neighbor_id")
    )
    return _rescore_exact(
        candidates, corpus, queries, k, id_col, vec_col, query_id_col
    )


def knn_classify(
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    method: str = "exact",
    num_vectors: int | None = None,
    **method_kwargs,
) -> DataFrame:
    """Leave-one-out k-nearest-neighbor label vote over an embedding
    corpus: each vector is assigned the majority label among its ``k``
    nearest OTHER vectors by cosine.

    The label-propagation / quality-classifier shape of LLM data
    curation: a small hand-labeled seed set plus embeddings lets kNN
    majority vote label the rest of the corpus (or, run leave-one-out
    as here, audit the seed labels themselves — a vector whose
    neighbors out-vote its own label is a labeling-error candidate).

    Deterministic output: (id, predicted_label, votes).  Neighbors rank
    by cosine descending, then neighbor id ascending, with
    :func:`cosine_topk`'s semantics (NULL cosines last; a pair with a
    NULL id is never scored).  Unlabeled (NULL-label) neighbors cast no
    vote, so a query whose k neighbors are all unlabeled is absent.
    The winner has the most votes, then the best (lowest) neighbor
    rank among the tied labels, then the lowest label — all
    SQL-expressible, so the exact tier carries a full DuckDB value
    oracle.

    ``method`` picks the tier:

    * ``"exact"`` — the brute-force baseline, legal while the corpus
      broadcasts.  One job collects (id, vector, label) — at most
      ``MAX_BROADCAST_QUERIES + 1`` rows, refusing past the bound;
      ``num_vectors``, the corpus size when known, refuses before any
      job — and the ids must be unique (duplicates raise after that
      collect, before the result runs anything).  The result is one
      ``mapInArrow`` stage over the broadcast corpus, driven by
      ``spark.range``: each of its ceil(n² / ``CELLS_PER_TASK``) tasks
      (at most ``defaultParallelism``) scores a slice of the queries
      against every vector in :func:`_fold_kit`'s fold — cosines
      bit-identical to :func:`cosine_topk` — ranks them exactly and
      votes.  No shuffle, window, join or second corpus scan.
    * ``"lsh"`` — :func:`lsh_bucketed_topk`, the 100 TB path:
      bucketed candidates, one shuffle, no all-pairs stage;
      ``method_kwargs`` pass through (planes, multiprobe_bits, dim).
      Its neighbors arrive through that shuffle, so the vote is SQL:
      join neighbor ids against the narrow (id, label) projection,
      count votes per (query, label), keep each query's winner with a
      WindowGroupLimit-prunable row_number.
    """
    if method == "exact":
        if method_kwargs:
            raise TypeError(
                "knn_classify(method='exact') takes no method arguments, "
                f"got {sorted(method_kwargs)}"
            )
        return _knn_exact(corpus, k, id_col, vec_col, label_col, num_vectors)
    if method != "lsh":
        raise ValueError(f"method must be 'exact' or 'lsh', got {method!r}")
    if num_vectors is not None:
        # the lsh tier never broadcasts the corpus, so there is nothing
        # for the hint to guard — a caller passing it here almost
        # certainly believes a guard is active that isn't
        raise ValueError(
            "num_vectors is the flat-tier broadcast-guard hint; "
            "method='lsh' is bucketed and does not broadcast — "
            "drop the argument"
        )
    queries = corpus.select(F.col(id_col).alias("query_id"), F.col(vec_col))
    topk = lsh_bucketed_topk(
        corpus,
        queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        **method_kwargs,
    )
    labels = corpus.filter(F.col(label_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("__nl")
    )
    votes = (
        topk.join(labels, on="neighbor_id", how="inner")
        .groupBy("query_id", "__nl")
        .agg(
            F.count(F.lit(1)).cast("long").alias("votes"),
            F.min("rank").alias("__best"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("__best"), F.asc("__nl")
    )
    return (
        votes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("query_id").alias(id_col),
            F.col("__nl").alias("predicted_label"),
            "votes",
        )
    )


def _knn_exact(
    corpus: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    label_col: str,
    num_vectors: int | None,
) -> DataFrame:
    """:func:`knn_classify`'s exact tier: the bounded collect, then the
    :func:`_knn_kernel` stage over ``spark.range`` slices."""
    import pyarrow.compute as pc

    def too_many(what):
        return ValueError(
            f"knn_classify(method='exact') collects and broadcasts the "
            f"corpus; {what} MAX_BROADCAST_QUERIES={MAX_BROADCAST_QUERIES}. "
            "Use method='lsh' for large corpora."
        )

    if num_vectors is not None and num_vectors > MAX_BROADCAST_QUERIES:
        raise too_many(f"{num_vectors} vectors exceeds")
    rows = corpus.select(
        F.col(id_col).alias("id"),
        _to_double(F.col(vec_col)).alias("vec"),
        F.col(label_col).alias("label"),
    )
    collected = rows.limit(MAX_BROADCAST_QUERIES + 1).toArrow()
    n = collected.num_rows
    if n > MAX_BROADCAST_QUERIES:
        raise too_many("more vectors arrived than")
    ids = collected.column("id")
    if pc.count_distinct(ids).as_py() != n - ids.null_count:
        raise ValueError(
            f"knn_classify(method='exact') needs unique ids: {id_col!r} "
            "has duplicates (deduplicate the corpus first)"
        )
    spark = corpus.sparkSession
    ansi = spark.conf.get("spark.sql.ansi.enabled").lower() == "true"
    tasks = min(
        max(1, -(-n * n // CELLS_PER_TASK)), spark.sparkContext.defaultParallelism
    )
    schema = StructType(
        [
            StructField(id_col, rows.schema["id"].dataType),
            StructField("predicted_label", rows.schema["label"].dataType),
            StructField("votes", LongType(), nullable=False),
        ]
    )
    kernel = _knn_kernel(spark, collected, k, tasks, ansi, schema.names)
    return spark.range(tasks, numPartitions=tasks).mapInArrow(kernel, schema)


def cluster_assign(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    seed: int = 13,
    fit_sample: int = 100_000,
    fit_fraction: float | None = None,
    out_col: str = "cluster_id",
) -> DataFrame:
    """Assign every embedding to its nearest sampled-KMeans centroid —
    the reusable clustering half of SemDedup, exposed as its own verb
    so topic-style corpus analyses (cluster-balanced sampling,
    per-cluster profiling) can compose with the sampling module.

    The model fits on a bounded deterministic sample
    (:func:`fit_kmeans` — head-of-every-partition quota, or
    ``fit_fraction`` for a true uniform sample at 100 TB) and assigns
    via the JVM ``model.transform`` (ONE broadcast-model map pass:
    centers live in one broadcast object, never a literal expression
    that grows with k).  ``n_centroids`` defaults to
    ``corpus_size / 100`` clusters (SemDedup's constant-cluster-size
    rule via ``dedup._auto_centroids`` — one count job); rows with a
    NULL id or vector are excluded per the sampling-module contract.

    Cluster LABELS are arbitrary (k-means numbering): downstream
    logic must treat them as opaque group keys — anything
    label-invariant (quotas per cluster, per-cluster stats) is
    deterministic; anything label-sensitive is not.

    Scale shape: fit at sample scale; assignment is a row-local
    broadcast-model map — zero Exchange, zero Python.  Extension
    operator (SURVEY §2.5).
    """
    from pyspark.ml.functions import array_to_vector

    from python_dtl_spark.operators.dedup import _auto_centroids

    if out_col in df.columns:
        raise ValueError(
            f"cluster_assign emits column {out_col!r} which already "
            "exists on the input; rename or drop it first"
        )
    if "__cb_fv" in df.columns:
        raise ValueError(
            "cluster_assign uses internal working column '__cb_fv' "
            "which already exists on the input; rename or drop it first"
        )
    base = df.filter(
        F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()
    )
    if n_centroids is None:
        n_centroids = _auto_centroids(base.count())
    model = fit_kmeans(
        base.select(F.col(vec_col).cast("array<double>").alias("__cv")),
        n_centroids=n_centroids,
        seed=seed,
        fit_sample=fit_sample,
        fit_fraction=fit_fraction,
    )
    assigned = (
        model.setFeaturesCol("__cb_fv")
        .setPredictionCol(out_col)
        .transform(
            base.withColumn(
                "__cb_fv",
                array_to_vector(F.col(vec_col).cast("array<double>")),
            )
        )
        .drop("__cb_fv")
    )
    return assigned.withColumn(out_col, F.col(out_col).cast("long"))


def cluster_balanced_sample(
    df: DataFrame,
    quota: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    seed: int = 13,
    fit_sample: int = 100_000,
    fit_fraction: float | None = None,
    sample_seed: str = "cb",
) -> DataFrame:
    """CLUSTER-BALANCED sampling: cap every embedding cluster's
    contribution at ``quota`` rows, chosen by deterministic md5-rank
    within the cluster — the semantic-diversity complement of the
    SOURCE-keyed mixers (a domain cap can't see that one domain
    contributes 50 near-identical topics; clustering the embedding
    space and capping per CLUSTER flattens topic over-representation
    the way SemDedup flattens near-duplication).

    Composition: :func:`cluster_assign` (sampled-KMeans broadcast
    assignment) → ``sampling.domain_quota`` on the cluster key (the
    md5(seed || id) rank rule, WindowGroupLimit map-side pruned).
    The KEPT SET is label-invariant — quota-per-cluster only needs
    the grouping, not the arbitrary cluster numbers — so on a
    fixture whose true grouping k-means provably recovers, the
    selection is exactly SQL-replayable (the catalog row's planted
    oracle); on natural data the grouping itself is
    approximate-by-design.

    Scale shape: fit at sample scale; one broadcast-model map pass +
    domain_quota's single WindowGroupLimit-pruned exchange on
    cluster_id.  Extension operator (SURVEY §2.5).
    """
    from python_dtl_spark.operators.sampling import domain_quota

    assigned = cluster_assign(
        df,
        id_col=id_col,
        vec_col=vec_col,
        n_centroids=n_centroids,
        seed=seed,
        fit_sample=fit_sample,
        fit_fraction=fit_fraction,
        out_col="cluster_id",
    )
    return domain_quota(
        assigned, "cluster_id", id_col, quota, seed=sample_seed
    )


# ---------------------------------------------------------------------------
# Centroid-index maintenance (the IVF tier of the stored-index pattern)
# ---------------------------------------------------------------------------
# The crawl-LSH and embedding-LSH indexes (dedup.minhash_band_buckets /
# dedup.embedding_lsh_buckets) made "store the index once, append
# incremental arrivals with arrival-sized work" a pattern of this
# engine.  This is the IVF-tier instance: the fitted KMeans CENTROID
# TABLE is the stored index artifact, and maintenance = assigning NEW
# vectors to the EXISTING centroids — a pure row-local map, never a
# refit (refitting on every arrival would re-shuffle the whole corpus
# AND silently re-number every stored assignment; frozen centroids keep
# assignments append-stable, at the cost of drift the valve below
# measures).

#: assign_to_centroids compiles the centroid table into a literal
#: expression (nearest_centroids); past this many centroids the
#: expression tier is mis-designed (O(k x dim) codegen per row, driver
#: OOM measured near ~500 x 64 dims) - use fit_kmeans +
#: model.transform (see cluster_assign) for fine-grained clustering.
MAX_LITERAL_CENTROIDS = 512


def _centroid_rows(centroids, cid_col: str, centroid_col: str):
    """Normalize a centroid table (DataFrame[(cid, centroid)] or
    list[list[float]]) to ([ids], [vectors]) sorted by cid ascending,
    validating uniqueness, NULLs and the literal-tier size bound."""
    if isinstance(centroids, DataFrame):
        rows = centroids.select(cid_col, centroid_col).limit(
            MAX_LITERAL_CENTROIDS + 1
        ).collect()
        if len(rows) > MAX_LITERAL_CENTROIDS:
            raise ValueError(
                f"centroid table exceeds MAX_LITERAL_CENTROIDS="
                f"{MAX_LITERAL_CENTROIDS}: the literal-expression tier "
                "is for coarse quantizers; use fit_kmeans + "
                "model.transform for large k (see cluster_assign)"
            )
        pairs = [(r[0], r[1]) for r in rows]
    else:
        pairs = list(enumerate(centroids))
    if not pairs:
        raise ValueError("centroid table is empty")
    ids = [p[0] for p in pairs]
    if any(i is None for i in ids) or len(set(ids)) != len(ids):
        raise ValueError(
            f"centroid ids ({cid_col}) must be non-NULL and unique; "
            f"got {len(ids)} rows, {len(set(ids))} distinct"
        )
    if any(p[1] is None for p in pairs):
        raise ValueError("centroid vectors must be non-NULL")
    dims = {len(p[1]) for p in pairs}
    if len(dims) != 1:
        raise ValueError(f"centroid vectors disagree on dimension: {sorted(dims)}")
    pairs.sort(key=lambda p: p[0])
    return [p[0] for p in pairs], [list(map(float, p[1])) for p in pairs]


def assign_to_centroids(
    df: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    cid_col: str = "cid",
    centroid_col: str = "centroid",
    out_col: str = "centroid_id",
    dim: int | None = None,
    with_distance: bool = False,
) -> DataFrame:
    """Assign every vector to its nearest EXISTING centroid — the
    maintenance half of an IVF index: centroids are the stored index
    artifact (a tiny (cid, vector) table persisted at fit time), new
    arrivals are assigned by ONE row-local map pass and appended; the
    corpus is never rescanned and the index is never refit.

    ``centroids`` is either a DataFrame with ``cid_col``/
    ``centroid_col`` columns (the stored artifact — bounded collect,
    raises past :data:`MAX_LITERAL_CENTROIDS`) or a plain
    ``list[list[float]]`` (ids = positional index, the
    :func:`fit_centroids` output form).  Assignment is an exact
    argmin of squared euclidean distance with deterministic ties
    (smallest cid wins — the centroid list compiles in ascending-cid
    order and :func:`nearest_centroids` sorts (dist, position)
    structs lexicographically).  Rows with a NULL id or vector are
    excluded per the sampling-module contract; ``dim`` adds the
    fail-fast dimension guard of the query operators.

    ``with_distance=True`` appends the squared distance as
    ``sq_dist`` — the input to the DRIFT VALVE: a frozen quantizer
    degrades as the distribution moves, and the symptom is the mean
    assignment distance rising against its fit-time baseline
    (:func:`centroid_assignment_stats`); refit and rebuild when it
    crosses the budget, not on a timer.

    Scale shape: pure map — zero Exchange, zero Python, centroids are
    plan literals (O(k x dim) per row in codegen; the documented
    coarse-quantizer tier).  Extension operator (SURVEY §2.5).
    """
    cids, vecs = _centroid_rows(centroids, cid_col, centroid_col)
    emitted = [out_col] + (["sq_dist"] if with_distance else [])
    if id_col in emitted:
        raise ValueError(
            f"out_col collides with id_col ({id_col!r}); rename one"
        )
    for c in emitted:
        if c in df.columns:
            raise ValueError(
                f"assign_to_centroids emits column {c!r} which already "
                "exists on the input; rename or drop it first"
            )
    qid = df["`{}`".format(id_col.replace("`", "``"))]
    qv = df["`{}`".format(vec_col.replace("`", "``"))]
    base = df.filter(qid.isNotNull() & qv.isNotNull()).select(
        qid.alias("__ac_id"),
        _checked_dim(_to_double(qv), dim).alias("__ac_v"),
    )
    best = nearest_centroids("__ac_v", vecs, 1)[0]
    cid_lit = F.array(*[F.lit(c) for c in cids])
    out = [
        F.col("__ac_id").alias(id_col),
        F.element_at(cid_lit, best["cid"] + 1).alias(out_col),
    ]
    if with_distance:
        out.append(best["dist"].alias("sq_dist"))
    return base.select(*out)


def merge_into_centroid_index(
    index: DataFrame,
    new_vectors: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    cid_col: str = "cid",
    centroid_col: str = "centroid",
    out_col: str = "centroid_id",
    dim: int | None = None,
    with_distance: bool = False,
) -> DataFrame:
    """Append newly arrived vectors to a stored IVF assignment index
    with arrival-sized work: the stored ``index`` (the
    :func:`assign_to_centroids` output persisted as parquet) passes
    through a narrow union UNTOUCHED — zero exchange on the index
    branch — while the delta is assigned by the same pure map against
    the same frozen centroid table.

    Because assignment is row-local and the centroids are frozen, the
    merged index equals a from-scratch rebuild over corpus ∪ delta
    ROW FOR ROW (``test_merge_centroid_index_equals_rebuild``) — the
    same merge == rebuild contract as
    ``dedup.merge_crawl_into_index`` / ``merge_delta_into_embedding_
    index``, completing the stored-index pattern at the IVF grain.
    """
    expected = [id_col, out_col] + (["sq_dist"] if with_distance else [])
    if sorted(index.columns) != sorted(expected):
        raise ValueError(
            f"stored index columns {sorted(index.columns)} do not match "
            f"the assignment schema {sorted(expected)}"
        )
    delta = assign_to_centroids(
        new_vectors,
        centroids,
        id_col=id_col,
        vec_col=vec_col,
        cid_col=cid_col,
        centroid_col=centroid_col,
        out_col=out_col,
        dim=dim,
        with_distance=with_distance,
    )
    return index.unionByName(delta)


def centroid_assignment_stats(
    assignments: DataFrame,
    *,
    cid_col: str = "centroid_id",
    sq_dist_col: str = "sq_dist",
) -> DataFrame:
    """Per-centroid occupancy and distance stats over an assignment
    table — the DRIFT VALVE's measurement: ``(centroid_id, n_vectors,
    sum_sq_dist, mean_sq_dist)``.

    Persist this at fit time as the baseline; re-run it over the
    merged index (assignments carried ``with_distance=True``) and
    compare — a mean_sq_dist ratio drifting above budget (or a
    centroid's occupancy collapsing/exploding) says the frozen
    quantizer no longer fits the distribution and the index should be
    refit and rebuilt.  ONE map-side-partial aggregation, |centroids|
    output rows.
    """
    cid = assignments["`{}`".format(cid_col.replace("`", "``"))]
    sd = assignments["`{}`".format(sq_dist_col.replace("`", "``"))]
    return assignments.groupBy(cid.alias(cid_col)).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(sd).alias("sum_sq_dist"),
        F.avg(sd).alias("mean_sq_dist"),
    )
