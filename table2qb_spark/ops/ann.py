"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force top-k — the exact baseline. Query set is tiny
  and **broadcast**; each executor scans its slice of the corpus once, and
  top-k is a per-query window over (query × corpus-partition) partial
  results. Cost: one corpus scan per batch of queries, no corpus shuffle.
- ``ivf_topk``: the scale path — corpus pre-assigned to the nearest of C
  centroids (here: deterministic seed vectors taken from the corpus itself;
  swap in k-means output on a real run); queries probe only their nearest
  ``n_probe`` centroid partitions. Turns the scan into a partition-pruned
  read when the assignment is materialized as a bucketed table.
- ``cosine_neardup_pairs``: embedding near-dup for dedup pipelines.

Dot products run as ``F.zip_with`` + ``F.aggregate`` over DOUBLE — pure
Catalyst (no Python), deterministic sequential summation, matching the SQL
oracle bit-for-bit at 4-decimal rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_expr(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Exact top-k neighbors per query (self excluded).
    corpus/queries: (id_col, vec_col). Queries are broadcast."""
    from pyspark.sql.window import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        c.join(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr(F.col("qv"), F.col("cv")), round_to).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


_IVF_FOLD_MAX_CENTROIDS = 1024  # literal-array plan stays well under 1 MB


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Assign every vector to its ``nprobe`` nearest centroids. Corpus
    vectors use nprobe=1 (each lives in ONE cell); queries probe several
    cells to recover near-boundary neighbors (the standard IVF recall
    knob). centroids: (centroid_id, cv).

    nprobe=1 with a small centroid set (the corpus-assignment case — every
    neardup/semantic/decontam path, and each k-means iteration) runs as a
    ZERO-SHUFFLE projection: the centroids are collected (tiny by the
    ``n_centroids_for`` contract) and embedded as a literal array, and the
    argmax folds over it per row. The r5 shape — broadcast join to
    corpus x C rows, then a row_number window partitioned by vec id —
    shuffled the corpus (vectors included, C-fold) purely to rank C rows
    that were already co-located. The fold replicates the window's
    ordering exactly: same per-pair ``cosine_expr`` doubles, ties to the
    smallest centroid_id, NaN sims ranked above all (Spark comparisons are
    total-order), NULL sims ranked last, all-NULL rows falling to the
    lowest-id centroid. nprobe>1 or a large centroid set (where a literal
    array would bloat the plan) keeps the join+window path."""
    from pyspark.sql.window import Window

    crows = None
    if nprobe == 1:
        # one row past the cap is enough to decide the fold is off
        crows = (
            centroids.select("centroid_id", "cv")
            .limit(_IVF_FOLD_MAX_CENTROIDS + 1)
            .collect()
        )
        if len(crows) > _IVF_FOLD_MAX_CENTROIDS:
            crows = None
    if crows is not None:
        if not crows:
            # legacy join-path behavior: empty centroids -> empty output
            return corpus.select(
                F.col(id_col),
                F.col(vec_col),
                F.lit(None)
                .cast(centroids.schema["centroid_id"].dataType)
                .alias("centroid_id"),
            ).where(F.lit(False))
        # array ordered by centroid_id ascending: the fold's ELSE-keep
        # branch then resolves all-NULL-sim rows to the smallest id, like
        # the window's (sim DESC NULLS LAST, centroid_id ASC) ordering
        cid_type = centroids.schema["centroid_id"].dataType
        arr = F.array(
            *[
                F.struct(
                    F.lit(r["centroid_id"]).cast(cid_type).alias("cid"),
                    cosine_expr(
                        F.col(vec_col), F.lit(list(r["cv"]))
                    ).alias("sim"),
                )
                for r in sorted(crows, key=lambda r: r["centroid_id"])
            ]
        )

        def pick(acc: Column, x: Column) -> Column:
            better = (
                (acc["sim"].isNull() & x["sim"].isNotNull())
                | (x["sim"] > acc["sim"])
                | ((x["sim"] == acc["sim"]) & (x["cid"] < acc["cid"]))
            )
            return F.when(better, x).otherwise(acc)

        if len(crows) == 1:
            best = F.element_at(arr, 1)
        else:
            best = F.aggregate(
                F.slice(arr, 2, len(crows) - 1), F.element_at(arr, 1), pick
            )
        return corpus.select(
            F.col(id_col), F.col(vec_col), best["cid"].alias("centroid_id")
        )

    scored = corpus.join(F.broadcast(centroids)).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("centroid_id"),
        cosine_expr(F.col(vec_col), F.col("cv")).alias("sim"),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("sim").desc(), F.col("centroid_id").asc())
    return (
        scored.withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= nprobe)
        .select(id_col, vec_col, "centroid_id")
    )


def seed_centroids(
    corpus: DataFrame, n: int = 4, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic centroids: the n lowest-id corpus vectors. Kept for
    SQL-oracle-ability (DuckDB can replicate it exactly); NOT data-aware —
    use ``kmeans_centroids`` for real partition-size guarantees."""
    return (
        corpus.orderBy(id_col)
        .limit(n)
        .select(F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cv"))
    )


def n_centroids_for(corpus_rows: int, target_cell_size: int = 1024) -> int:
    """The IVF sizing rule: enough centroids that the average cell holds
    ``target_cell_size`` vectors — the knob that keeps the within-cell
    quadratic pair join bounded as the corpus grows."""
    return max(1, -(-int(corpus_rows) // int(target_cell_size)))


def kmeans_centroids(
    corpus: DataFrame,
    n: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 4,
    oversample: int = 4,
) -> DataFrame:
    """Deterministic k-means(||-style) centroids, pure DataFrame ops.

    Seeding: a hash-ordered oversample of ``n * oversample`` corpus vectors
    (TakeOrderedAndProject — top-K per partition, no full sort) thinned to
    ``n`` by greedy farthest-point selection on the driver (the k-means||
    idea: oversample cheaply in parallel, recluster the tiny candidate set
    centrally). Lloyd iterations then run as ONE broadcast-assign scan plus
    ONE per-dimension avg aggregate per round — all JVM-side; only the
    C x dim centroid matrix ever reaches the driver. Deterministic: seeding
    orders by xxhash64(id), no RNG (resume-safe).

    Scale: per iteration cost = corpus scan x C broadcast compares + a
    map-side-combined groupBy of C x dim doubles. C = use ``n_centroids_for``.
    """
    import math

    first = corpus.select(vec_col).first()
    if first is None:
        raise ValueError("kmeans_centroids: empty corpus")
    dim = len(first[0])

    cand_rows = (
        corpus.select(
            F.col(vec_col), F.xxhash64(F.col(id_col).cast("string")).alias("__h")
        )
        .orderBy("__h")
        .limit(max(n * oversample, n))
        .collect()
    )
    vecs = [[float(x) for x in r[vec_col]] for r in cand_rows]
    norms = [math.sqrt(sum(x * x for x in v)) or 1.0 for v in vecs]

    def cos(i: int, j: int) -> float:
        return sum(a * b for a, b in zip(vecs[i], vecs[j])) / (norms[i] * norms[j])

    chosen = [0]
    picked = {0}
    # greedy max-min (farthest-point) over the candidate set: spreads seeds
    # across the data's clusters instead of wherever the lowest ids landed.
    # Incremental min-distances (classic k-means++ memoization): each round
    # only compares against the NEWEST chosen point — O(n * cand * dim)
    # total instead of O(n^2 * cand * dim), identical selection.
    mind = [1.0 - cos(i, 0) for i in range(len(vecs))]
    while len(chosen) < min(n, len(vecs)):
        best_i, best_d = -1, -1.0
        for i in range(len(vecs)):
            if i in picked:
                continue
            if mind[i] > best_d:
                best_i, best_d = i, mind[i]
        chosen.append(best_i)
        picked.add(best_i)
        for i in range(len(vecs)):
            if i not in picked:
                d = 1.0 - cos(i, best_i)
                if d < mind[i]:
                    mind[i] = d

    spark = corpus.sparkSession
    schema = "centroid_id int, cv array<double>"
    centroids = {ci: vecs[i] for ci, i in enumerate(chosen)}
    cdf = spark.createDataFrame(sorted(centroids.items()), schema)

    for _ in range(max_iter):
        assigned = ivf_assign(corpus, cdf, id_col, vec_col)
        means = (
            assigned.groupBy("centroid_id")
            .agg(*[F.avg(F.col(vec_col)[i].cast("double")).alias(f"d{i}") for i in range(dim)])
            .collect()
        )
        # a centroid that lost every vector keeps its previous position
        for r in means:
            centroids[r["centroid_id"]] = [float(r[f"d{i}"]) for i in range(dim)]
        cdf = spark.createDataFrame(sorted(centroids.items()), schema)
    return cdf


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    nprobe: int = 1,
) -> DataFrame:
    """IVF: score only corpus vectors in the query's ``nprobe`` nearest
    cells. Approximate — recall rises with nprobe (and with centroid
    quality); cost is nprobe cell scans per query instead of the corpus."""
    from pyspark.sql.window import Window

    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    q_assigned = ivf_assign(queries, centroids, id_col, vec_col, nprobe=nprobe).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col("centroid_id"),
    )
    scored = (
        assigned.withColumnRenamed(id_col, "neighbor_id")
        .withColumnRenamed(vec_col, "cv")
        .join(F.broadcast(q_assigned), on="centroid_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr(F.col("qv"), F.col("cv")), round_to).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


_VEC_ID_TYPES = (
    "tinyint", "smallint", "int", "bigint", "float", "double", "string"
)


def _cell_pairs_vectorized(
    assigned: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    round_to: int,
    sub_chunks: int = 1,
) -> DataFrame:
    """All within-cell candidate pairs ``(id_a < id_b, __raw)`` where
    ``__raw`` is the UNROUNDED cosine, computed in a grouped Arrow UDF with
    NumPy instead of the r5 equi-self-join + per-pair Catalyst array folds.

    Bit-exactness contract (callers round + threshold in Catalyst, so the
    emitted doubles must match ``cosine_expr`` to the last ulp):

    - ``_dot`` casts each float32 element to double INSIDE ``zip_with``
      (the float64 product of two float32 values is exact) and folds
      sequentially over dimensions. Replicated as ``acc += A[:, k] * B[:, k]``
      over float64 arrays, k ascending — one vectorized op per dimension,
      same operand order, same rounding at every step. (NumPy's own
      ``np.sum``/``matmul`` must NOT be used: pairwise/blocked accumulation
      reorders the additions.)
    - ``_norm`` likewise: ``acc += V[:, k] * V[:, k]`` then ``sqrt``.
    - cosine = ``dot / (norm_a * norm_b)`` in that exact operation order.
    - The UDF prefilters with ``raw >= threshold - 0.5*10^-round_to - 1e-9``
      (round-half-up can lift a value by at most half an ulp of the last
      kept decimal, so no pair that survives the Catalyst filter is ever
      dropped) and KEEPS NaN cosines (Spark orders NaN above every double,
      so ``NaN >= threshold`` holds there).
    - Rows whose vector is NULL or contains a NULL element never pair
      (their Catalyst cosine is NULL, which fails the filter); pairs of
      different-length vectors likewise (``zip_with`` pads with NULL).

    Parallelism: ``sub_chunks`` = S splits every cell into S deterministic
    id-hash chunks and pairs chunk-combos ``(ca <= cb)`` as independent
    groups — S(S+1)/2 tasks per cell instead of 1, input replicated S×
    (vectors are narrow; the m² pairing work, unchanged in total, is what
    matters). S=1 degenerates to one group per cell, the right shape when
    cells already outnumber cores."""
    import numpy as np
    import pyarrow as pa

    id_type = assigned.schema[id_col].dataType.simpleString()
    if id_type not in _VEC_ID_TYPES:
        raise ValueError(
            f"vectorized cell pairing supports ids of {_VEC_ID_TYPES}, got "
            f"{id_type}; call with vectorized=False"
        )
    sub_chunks = max(1, int(sub_chunks))
    margin = threshold - 0.5 * 10.0 ** (-round_to) - 1e-9

    from pyspark.sql.pandas.types import to_arrow_type

    ids_type = to_arrow_type(assigned.schema[id_col].dataType)

    base = assigned.select(
        F.col("centroid_id"),
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(sub_chunks))
        .cast("int")
        .alias("__sub"),
    )
    rep = base.select(
        "centroid_id",
        "__id",
        "__vec",
        "__sub",
        F.explode(F.sequence(F.lit(0), F.lit(sub_chunks - 1))).alias("__o"),
    ).select(
        "centroid_id",
        "__id",
        "__vec",
        "__sub",
        F.least("__sub", "__o").alias("__ca"),
        F.greatest("__sub", "__o").alias("__cb"),
    )

    def _clean(tbl: "pa.Table"):
        """-> (ids ndarray, V float64 (m, dim) per length-group list, subs).

        Returns a list of (row_indices, V) per distinct vector length, with
        NULL vectors / NULL-element vectors dropped (they never pair)."""
        ids_arr = tbl.column("__id").combine_chunks()
        vecs = tbl.column("__vec").combine_chunks()
        subs = np.asarray(tbl.column("__sub").combine_chunks())
        ids = np.asarray(ids_arr.to_pandas(), dtype=object)

        m = len(vecs)
        valid = np.ones(m, dtype=bool)
        if vecs.null_count:
            valid &= np.asarray(vecs.is_valid())
        offs = np.asarray(vecs.offsets, dtype=np.int64)
        off0 = offs[0]
        lens = offs[1:] - offs[:-1]
        vals = vecs.values
        if vals.null_count:
            elem_null = np.asarray(vals.is_null())
            seg = np.zeros(m, dtype=np.int64)
            for i in range(m):  # rare path: only entered when NULLs exist
                seg[i] = elem_null[offs[i] : offs[i + 1]].sum()
            valid &= seg == 0
        flat = np.asarray(vals.slice(off0, int(offs[-1] - off0)).to_numpy(
            zero_copy_only=False
        ), dtype=np.float64)
        groups = []
        for length in np.unique(lens[valid]):
            rows = np.nonzero(valid & (lens == length))[0]
            if len(rows) == 0:
                continue
            if length == 0:
                # zero-dim vectors keep a (m, 0) matrix: dot 0.0 (the fold
                # seed), norm 0.0 — pairing them trips the zero-norm raise
                # below, exactly like Catalyst's ANSI divide
                groups.append((rows, np.zeros((len(rows), 0), dtype=np.float64)))
                continue
            starts = offs[rows] - off0
            idx = starts[:, None] + np.arange(int(length))[None, :]
            groups.append((rows, flat[idx]))
        return ids, subs, groups

    def _norms(V: "np.ndarray") -> "np.ndarray":
        acc = np.zeros(len(V), dtype=np.float64)
        for k in range(V.shape[1]):
            x = V[:, k]
            acc = acc + x * x
        return np.sqrt(acc)

    def _dot_block(A: "np.ndarray", B: "np.ndarray") -> "np.ndarray":
        d = np.zeros((len(A), len(B)), dtype=np.float64)
        for k in range(A.shape[1]):
            d += A[:, k][:, None] * B[:, k][None, :]
        return d

    def _emit(out, ida, idb, raw):
        lt = ida < idb
        a = np.where(lt, ida, idb)
        b = np.where(lt, idb, ida)
        out.append((a, b, raw))

    def fn(key, tbl):  # (key, pa.Table) -> pa.Table; no annotations — the
        # eval-type inference eval()s string hints against fn's globals,
        # where the locally-imported pyarrow alias does not exist
        ca, cb = key[-2].as_py(), key[-1].as_py()
        ids, subs, groups, = _clean(tbl)
        out: list = []
        for rows, V in groups:
            gsubs = subs[rows]
            gids = ids[rows]
            norms = _norms(V)
            if ca == cb:
                sel = np.nonzero(gsubs == ca)[0]
                idsA, VA, nA = gids[sel], V[sel], norms[sel]
                mm = len(sel)
                if mm >= 2 and (nA == 0.0).any():
                    # Catalyst (ANSI) raises DIVIDE_BY_ZERO when a
                    # zero-norm vector meets any cell partner — replicate
                    raise ZeroDivisionError(
                        "cosine denominator is zero (zero-norm vector in a "
                        "populated IVF cell) — matches Catalyst ANSI divide"
                    )
                blk = max(16, min(2048, 4_000_000 // max(mm, 1)))
                for i0 in range(0, mm, blk):
                    i1 = min(i0 + blk, mm)
                    A, B = VA[i0:i1], VA[i0:]
                    cos = _dot_block(A, B) / (
                        nA[i0:i1][:, None] * nA[i0:][None, :]
                    )
                    keep = (cos >= margin) | np.isnan(cos)
                    # strict upper triangle in GLOBAL index space
                    keep &= np.arange(i0, mm)[None, :] > (
                        np.arange(i0, i1)[:, None]
                    )
                    r, c = np.nonzero(keep)
                    if len(r):
                        ida = idsA[r + i0]
                        idb = idsA[c + i0]
                        ne = ida != idb  # duplicate ids never pair (a < b)
                        _emit(out, ida[ne], idb[ne], cos[r, c][ne])
            else:
                selA = np.nonzero(gsubs == ca)[0]
                selB = np.nonzero(gsubs == cb)[0]
                if not len(selA) or not len(selB):
                    continue
                idsA, VA, nA = gids[selA], V[selA], norms[selA]
                idsB, VB, nB = gids[selB], V[selB], norms[selB]
                if (nA == 0.0).any() or (nB == 0.0).any():
                    raise ZeroDivisionError(
                        "cosine denominator is zero (zero-norm vector in a "
                        "populated IVF cell) — matches Catalyst ANSI divide"
                    )
                blk = max(16, min(2048, 4_000_000 // max(len(selB), 1)))
                for i0 in range(0, len(selA), blk):
                    i1 = min(i0 + blk, len(selA))
                    cos = _dot_block(VA[i0:i1], VB) / (
                        nA[i0:i1][:, None] * nB[None, :]
                    )
                    keep = (cos >= margin) | np.isnan(cos)
                    r, c = np.nonzero(keep)
                    if len(r):
                        _emit(out, idsA[r + i0], idsB[c], cos[r, c])
        if not out:
            a_t = pa.array([], type=ids_type)
            return pa.table(
                {"id_a": a_t, "id_b": a_t, "__raw": pa.array([], pa.float64())}
            )
        a = np.concatenate([x[0] for x in out])
        b = np.concatenate([x[1] for x in out])
        raw = np.concatenate([x[2] for x in out])
        return pa.table(
            {
                "id_a": pa.array(a.tolist(), type=ids_type),
                "id_b": pa.array(b.tolist(), type=ids_type),
                "__raw": pa.array(raw, type=pa.float64()),
            }
        )

    out_schema = f"id_a {id_type}, id_b {id_type}, __raw double"
    return rep.groupBy("centroid_id", "__ca", "__cb").applyInArrow(
        fn, out_schema
    )


def cosine_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    centroids: DataFrame | None = None,
    n_centroids: int | None = None,
    exact: bool = False,
    target_cell_size: int = 1024,
    vectorized: bool = True,
) -> DataFrame:
    """Embedding near-dup pairs (a < b) with cosine >= threshold.

    Scale path (default): IVF-partitioned pairing — every vector is assigned
    to its nearest centroid (one broadcast-join corpus scan), then pairs are
    generated ONLY within a centroid partition via an **equi-join on
    centroid_id** (hash/sort-merge, never a nested-loop cross join). The
    quadratic blowup is confined to one partition's population, and at high
    thresholds near-dups share their nearest centroid with overwhelming
    probability (the standard IVF coarse-quantizer argument). Centroids
    default to a deterministic k-means pass (``kmeans_centroids``) with
    ``n_centroids = ceil(corpus / target_cell_size)`` — data-aware centroids
    are what guarantees bounded cells; pass explicit ``centroids`` (e.g.
    ``seed_centroids`` for SQL-oracle-able runs) to override. Approximate: a
    pair straddling two centroid cells is missed — the recall/cost knob
    every ANN index exposes.

    ``exact=True`` keeps the brute-force all-pairs form for small corpora or
    recall evaluation (cartesian — do not run at scale).

    The IVF path's within-cell pairing runs as a grouped Arrow UDF
    (``_cell_pairs_vectorized``) that computes the cosine bit-identically
    to ``cosine_expr`` but vectorized across pairs with NumPy — the r5
    per-pair Catalyst array folds are interpreted (no codegen for
    higher-order functions) and dominated the whole query (~150M-cosine
    bench cell: 222 s -> seconds). Rounding and the threshold comparison
    stay in Catalyst, on the raw doubles the UDF emits, so the output is
    unchanged to the last bit. ``vectorized=False`` keeps the pure-Catalyst
    join form (also the fallback for exotic id types)."""
    if exact:
        a = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
        b = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    else:
        if centroids is None:
            if n_centroids is None:
                n_centroids = n_centroids_for(corpus.count(), target_cell_size)
            centroids = kmeans_centroids(corpus, n_centroids, id_col, vec_col)
        assigned = ivf_assign(corpus, centroids, id_col, vec_col)
        if vectorized and (
            assigned.schema[id_col].dataType.simpleString() in _VEC_ID_TYPES
        ):
            # sub-chunk cells so the per-cell quadratic splits into enough
            # independent tasks to fill the cluster: S(S+1)/2 groups per
            # cell, input replicated S times (vectors are narrow — the m²
            # pairing work, unchanged in total, dominates). When cells
            # already outnumber cores (the 100 TB shape: n_cells ~
            # corpus/target_cell_size), S stays 1 and nothing is replicated.
            n_cells = max(1, centroids.count())
            par = corpus.sparkSession.sparkContext.defaultParallelism
            s = 1
            while s < 8 and n_cells * s * (s + 1) // 2 < 2 * par:
                s += 1
            raw = _cell_pairs_vectorized(
                assigned, id_col, vec_col, threshold, round_to, sub_chunks=s
            )
            return raw.select(
                "id_a",
                "id_b",
                F.round(F.col("__raw"), round_to).alias("cosine"),
            ).where(F.col("cosine") >= threshold)
        a = assigned.select(
            F.col("centroid_id"), F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
        )
        b = assigned.select(
            F.col("centroid_id"), F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
        )
        pairs = a.join(b, on="centroid_id").where(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(cosine_expr(F.col("va"), F.col("vb")), round_to).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
    centroids: DataFrame | None = None,
    n_centroids: int | None = None,
    target_cell_size: int = 1024,
) -> DataFrame:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", arXiv:2303.09540 — public
    method): drop documents whose EMBEDDINGS are near-identical, keeping one
    representative per epsilon-neighborhood. Lexical dedup (minhash/simhash)
    misses paraphrases; this catches them via the embedding space.

    Returns one row per corpus vector: ``(id, keeper_id, kept)`` —
    ``kept`` is false iff a SMALLER-id vector in the same IVF cell has
    cosine >= threshold (the paper's greedy keep-one, with min-id as the
    deterministic tie-break instead of its random choice, which keeps the
    operator SQL-oracle-able); ``keeper_id`` is the smallest such neighbor
    (the row itself when kept). Like the paper's per-cluster algorithm the
    keeper link is ONE hop: in an a<b<c chain where (a,b) and (b,c) pair
    but (a,c) don't, c's keeper is the removed b — pipe the pairs through
    ``dedup.star_groups`` when a transitive group id is needed.

    Scale shape: exactly ``cosine_neardup_pairs``'s IVF equi-join (the
    quadratic pairing is confined to one centroid cell; no all-pairs), plus
    one min-agg on id_b and one left join back to the corpus — both keyed
    on the vector id, AQE-co-partitioned. Nothing corpus-sized is
    broadcast or collected."""
    pairs = cosine_neardup_pairs(
        corpus,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        round_to=round_to,
        centroids=centroids,
        n_centroids=n_centroids,
        target_cell_size=target_cell_size,
    )
    keepers = pairs.groupBy("id_b").agg(F.min("id_a").alias("__keeper"))
    return (
        corpus.join(keepers, corpus[id_col] == keepers["id_b"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__keeper"), F.col(id_col)).alias("keeper_id"),
            F.col("__keeper").isNull().alias("kept"),
        )
    )
