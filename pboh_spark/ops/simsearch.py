"""Similarity search over an embedding column (array<float>).

* ``cosine_topk_bruteforce`` — exact top-k by cosine: cross/self join +
  JVM-side dot products (F.zip_with/aggregate — no Python). The baseline
  and the small-query-set path (queries broadcast, so the 'cross' join
  is a broadcast nested loop: scan-speed, no shuffle of the corpus).
* ``lsh_topk`` — the scale path: random-hyperplane (sign) LSH buckets;
  candidates only within matching buckets, then exact re-rank. At 100 TB
  the corpus is hashed once (linear scan), the join is bucket-equi, and
  recall is tunable with n_tables × n_bits.
* ``ivf_topk`` — IVF-style: k seeded centroids (deterministic corpus
  sample), every vector assigned to nearest centroid (one broadcast
  join), queries probe the ``n_probe`` nearest centroids only.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def with_cosine(df: DataFrame, a: str, b: str, out: str = "cosine") -> DataFrame:
    """cosine(a,b) as a pure column expression (whole-stage codegen).

    Zero-norm vectors (the common failed-embed sentinel) yield NULL
    instead of aborting the job: under ANSI mode (Spark 4 default here)
    a bare dot/(na*nb) raises DIVIDE_BY_ZERO and kills the whole stage
    the moment one all-zeros embedding appears. NULL propagates to the
    callers' documented fallbacks (threshold filters drop it; score
    fusion coalesces to neutral)."""
    ca, cb = F.col(a).cast("array<double>"), F.col(b).cast("array<double>")
    denom = _norm(ca) * _norm(cb)
    return df.withColumn(
        out, F.when(denom > 0, _dot(ca, cb) / denom)
    )


def arrow_cosine_pairs(
    df: DataFrame,
    a: str,
    b: str,
    id_cols: tuple[str, ...],
    out: str = "cosine",
    dim: int | None = None,
) -> DataFrame:
    """(…id_cols, cosine) via ONE mapInArrow kernel — the §4.2 move that
    replaced the per-bit JVM folds in ``hyperplane_signatures``, applied
    to the pair re-rank: ``with_cosine``'s three higher-order-function
    aggregates (dot + two norms) evaluate interpreted row-at-a-time,
    ~0.8 s per 57k 64-dim pairs; the kernel does the same flops
    vectorized per Arrow batch.

    Bit-parity with ``with_cosine`` is exact: the accumulators fold over
    the dim axis in order (acc = acc + x·y, plain IEEE mul/add, no FMA)
    — the same left-to-right fold ``aggregate(zip_with(...))`` performs —
    then cosine = dot/(sqrt(na)·sqrt(nb)) with the identical zero-denom
    NULL guard. Pinned row-for-row against the expression form in
    tests/test_ops.py. Only ``id_cols + [a, b]`` cross the Python
    boundary (project-before-opaque, guide §4.1); callers that must keep
    other columns or fuse into a join keep ``with_cosine``.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = ", ".join(
        [f"{c} {schema[c]}" for c in id_cols] + [f"{out} double"]
    )
    n_ids = len(id_cols)

    def gen(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            va = batch.column(n_ids)
            vb = batch.column(n_ids + 1)
            nulls = (
                pc.is_null(va).to_numpy(zero_copy_only=False)
                | pc.is_null(vb).to_numpy(zero_copy_only=False)
            )
            if nulls.any():
                # rare degenerate rows (null vector): NULL cosine, same
                # as the HOF form; slow path only for those batches
                amat = np.array(
                    [
                        x if x is not None else np.zeros(1)
                        for x in va.to_numpy(zero_copy_only=False)
                    ],
                    dtype=object,
                )
                bmat = np.array(
                    [
                        x if x is not None else np.zeros(1)
                        for x in vb.to_numpy(zero_copy_only=False)
                    ],
                    dtype=object,
                )
                cos = np.empty(n, dtype=np.float64)
                mask = np.zeros(n, dtype=bool)
                for i in range(n):
                    if nulls[i]:
                        mask[i] = True
                        continue
                    x = np.asarray(amat[i], dtype=np.float64)
                    y = np.asarray(bmat[i], dtype=np.float64)
                    dot = na = nb = 0.0
                    for k2 in range(len(x)):
                        dot = dot + x[k2] * y[k2]
                        na = na + x[k2] * x[k2]
                        nb = nb + y[k2] * y[k2]
                    denom = np.sqrt(na) * np.sqrt(nb)
                    if denom > 0:
                        cos[i] = dot / denom
                    else:
                        mask[i] = True
                carr = pa.array(cos, type=pa.float64(), mask=mask)
            else:
                d = dim or len(va[0])
                x = np.asarray(va.flatten(), dtype=np.float64).reshape(n, d)
                y = np.asarray(vb.flatten(), dtype=np.float64).reshape(n, d)
                dot = np.zeros(n, dtype=np.float64)
                na = np.zeros(n, dtype=np.float64)
                nb = np.zeros(n, dtype=np.float64)
                for k2 in range(d):  # ordered fold ≡ aggregate(zip_with)
                    xk = x[:, k2]
                    yk = y[:, k2]
                    dot += xk * yk
                    na += xk * xk
                    nb += yk * yk
                denom = np.sqrt(na) * np.sqrt(nb)
                ok = denom > 0
                cos = np.where(ok, dot / np.where(ok, denom, 1.0), 0.0)
                carr = pa.array(cos, type=pa.float64(), mask=~ok)
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(n_ids)] + [carr],
                names=list(id_cols) + [out],
            )

    src = df.select(
        *id_cols,
        F.col(a).cast("array<double>").alias("__va"),
        F.col(b).cast("array<double>").alias("__vb"),
    )
    return src.mapInArrow(gen, out_schema)


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query: (query_id, neighbor_id, cosine,
    rank). ``queries`` must be small (broadcast side)."""
    from pboh_spark.util import ensure_parallelism

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    # the broadcast-NL probe evaluates |corpus|·|queries| cosines in the
    # corpus scan tasks — floor the scan parallelism (no-op at scale)
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    joined = c.crossJoin(F.broadcast(q)).where(
        F.col("neighbor_id") != F.col("query_id")
    )
    # NOT the Arrow kernel: here the cosine fuses into the broadcast-NL
    # scan stage, and shipping corpus×queries vector pairs through the
    # Python boundary measured SLOWER (0.73 vs 0.57 s interleaved A/B) —
    # the expression form stays; arrow_cosine_pairs wins only where a
    # narrow candidate-pair table is re-ranked (see embedding dedup)
    scored = with_cosine(joined, "qv", "cv").select(
        "query_id", "neighbor_id", "cosine"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def hyperplane_signatures(
    vectors: DataFrame,
    dim: int,
    n_bits: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, table, sig) — sign-LSH: sig bit i = [v·r_i > 0] for seeded
    gaussian hyperplanes.

    mapInArrow kernel (guide §4.2): the former pure-JVM form was
    n_tables·n_bits separate ``aggregate(zip_with(...))`` subtrees with
    n_tables·n_bits·dim literal leaves — Catalyst spent seconds
    analyzing/optimizing that tree on EVERY query build, and the
    interpreted higher-order functions evaluated the dot products
    row-at-a-time. One Arrow batch × one numpy pass computes every
    plane's dot product vectorized. Bit-parity with the old expression
    is preserved exactly: the accumulation loops over the dim axis in
    order (acc = acc + v[k]·r[k], plain IEEE mul/add, no FMA), which is
    the same left-to-right fold ``aggregate(zip_with(v, r, *))``
    performed, so every signature bit — including near-zero dots — is
    unchanged (asserted row-for-row in tests/test_ops.py)."""
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_tables, n_bits, dim))
    # (dim, n_tables*n_bits): column p = plane (p // n_bits, p % n_bits)
    w_cols = planes.reshape(n_tables * n_bits, dim).T.copy()
    pows = (1 << np.arange(n_bits, dtype=np.int64))
    id_type = vectors.schema[id_col].dataType.simpleString()

    def gen(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column(0)
            varr = batch.column(1)
            # flatten() honors the list array's offset (values does not)
            vals = np.asarray(varr.flatten(), dtype=np.float64)
            v = vals.reshape(n, dim)
            acc = np.zeros((n, n_tables * n_bits), dtype=np.float64)
            for k in range(dim):  # ordered fold ≡ aggregate(zip_with)
                acc += v[:, k : k + 1] * w_cols[k]
            bits = (acc > 0).reshape(n, n_tables, n_bits)
            sigs = (bits * pows).sum(axis=2, dtype=np.int64)  # (n, n_tables)
            # row layout matches the former posexplode: for each input row,
            # n_tables consecutive rows with table = 0..n_tables-1
            rep_ids = np.repeat(np.arange(n), n_tables)
            tables = np.tile(np.arange(n_tables, dtype=np.int32), n)
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(rep_ids)),
                    pa.array(tables, type=pa.int32()),
                    pa.array(sigs.reshape(-1), type=pa.int64()),
                ],
                names=["vid", "table", "sig"],
            )

    from pboh_spark.util import ensure_parallelism

    src = ensure_parallelism(vectors).select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>")
    )
    return src.mapInArrow(gen, f"vid {id_type}, table int, sig bigint")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_bits: int = 4,
    n_tables: int = 12,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: bucket-join on (table, sig) then exact re-rank
    of candidates. Pair space ≈ Σ bucket² instead of |corpus|·|queries|."""
    cs = hyperplane_signatures(corpus, dim, n_bits, n_tables, seed, id_col, vec_col)
    qs = hyperplane_signatures(queries, dim, n_bits, n_tables, seed, id_col, vec_col)
    cand = (
        cs.join(
            qs.withColumnRenamed("vid", "query_id"), ["table", "sig"]
        )
        .where(F.col("vid") != F.col("query_id"))
        .select(F.col("query_id"), F.col("vid").alias("neighbor_id"))
        .distinct()
    )
    cvec = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    scored = arrow_cosine_pairs(
        cand.join(cvec, "neighbor_id").join(F.broadcast(qvec), "query_id"),
        "qv",
        "cv",
        ("query_id", "neighbor_id"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.select("query_id", "neighbor_id", "cosine")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def recall_at_k(approx: DataFrame, exact: DataFrame) -> float:
    """Fraction of exact top-k (query, neighbor) pairs the approximate
    index recovered — the coverage diagnostic the reference prints for its
    candidate index (eval/VerifyEDAbstract.scala:104-108). One semi-join +
    two counts; both inputs are top-k tables (small)."""
    hits = exact.select("query_id", "neighbor_id").join(
        approx.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
        "left_semi",
    )
    total = exact.count()
    return (hits.count() / total) if total else 1.0


def _lloyd_refine(base: DataFrame, cents: DataFrame) -> DataFrame:
    """One deterministic Lloyd iteration: assign every corpus vector to
    its nearest centroid, then recentre each cell at the member mean.

    The mean is computed in FIXED POINT — per-coordinate values quantized
    to 1e-7 units, summed as longs (order-independent integer addition),
    then unscaled — so the refined centroids are bit-identical at any
    partitioning AND reproducible in the DuckDB oracle (a float avg would
    drift in the last ulps with aggregation order and could flip a
    nearest-centroid tie cross-engine). Cells that captured no members
    keep their seed centroid. Cost: one posexplode shuffle over
    |corpus|·dim value rows — the standard k-means iteration shape."""
    assigned = with_cosine(
        base.crossJoin(F.broadcast(cents)), "cvec0", "cvec", "acos"
    )
    # nearest centroid per corpus vector via max_by (map-side partial
    # agg: one row per vector over the wire, not n_cells) — same
    # tie-break as the former row_number window (desc acos, asc cid)
    member = (
        assigned.groupBy("cid0")
        .agg(
            F.max_by(
                F.struct(F.col("cid"), F.col("cvec0")),
                F.struct(F.col("acos"), (-F.col("cid")).alias("ncid")),
            ).alias("b")
        )
        .select(F.col("b.cid").alias("cid"), F.col("b.cvec0").alias("v"))
    )
    ex = member.select("cid", F.posexplode("v").alias("pos", "val"))
    means = ex.groupBy("cid", "pos").agg(
        (
            F.sum(F.round(F.col("val") * 1e7).cast("long"))
            / (F.count("*") * F.lit(1e7))
        ).alias("m")
    )
    refined = means.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda s: s["m"],
        ).alias("cvec")
    )
    return (
        cents.select("cid", F.col("cvec").alias("cvec_seed"))
        .join(refined, "cid", "left")
        .select("cid", F.coalesce("cvec", "cvec_seed").alias("cvec"))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prefix_len: int = 1,
    refine_iters: int = 1,
) -> DataFrame:
    """IVF: centroids = deterministic corpus sample (md5 prefix filter →
    sort only the filtered pool) + ``refine_iters`` Lloyd refinements;
    assignment + probing are broadcast joins; re-rank exact.

    The centroid pick first hash-FILTERS the corpus to rows whose
    md5(id||seed) starts with ``prefix_len`` zero hex chars (16^-p of the
    corpus — a scan-side predicate, no shuffle), then sorts only that
    small pool. A global orderBy(md5).limit would be a full corpus sort
    to pick n_cells rows; at 100 TB raise ``prefix_len`` so the pool
    stays ~64·n_cells. Seeded samples of clustered data land multiple
    centroids in dense clusters and none in sparse ones — the Lloyd
    pass(es) spread them to the actual density (recall@10 on planted
    clusters: 0.48 unrefined → ≥0.7 refined, asserted in tests), while
    staying deterministic (fixed-point means, see _lloyd_refine), hence
    oracle-checkable."""
    hashed = F.md5(F.concat(F.col("cid").cast("string"), F.lit(str(seed))))
    base = corpus.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
    cents = (
        base.where(F.substring(hashed, 1, prefix_len) == "0" * prefix_len)
        .orderBy(hashed)
        .limit(n_cells)
    )
    # tiny-corpus guard: a 16^-prefix_len pool smaller than n_cells means
    # the corpus itself is ≲ 16^prefix_len·n_cells rows — at that size a
    # global hash-ordered pick is cheap AND avoids silently returning
    # fewer (or zero) centroids → empty results. One bounded driver-side
    # count (limit n_cells) decides; at real scale the pool always wins.
    if cents.count() < n_cells:
        cents = base.orderBy(hashed).limit(n_cells)
    if refine_iters:
        from pboh_spark.util import ensure_parallelism as _ep

        lloyd_base = _ep(corpus).select(
            F.col(id_col).alias("cid0"), F.col(vec_col).alias("cvec0")
        )
        for _ in range(refine_iters):
            cents = _lloyd_refine(lloyd_base, cents)
        # n_cells rows consumed by three downstream joins — materialize
        # once instead of recomputing the refinement lineage per consumer
        cents = cents.localCheckpoint()
    from pboh_spark.util import ensure_parallelism

    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    assigned = with_cosine(
        c.crossJoin(F.broadcast(cents)), "cv", "cvec", "ccos"
    )
    # top-1 centroid per corpus vector via max_by, NOT a row_number
    # window: the window would shuffle all corpus×n_cells rows on
    # neighbor_id; max_by partial-aggregates map-side, so only one row
    # per vector reaches the wire. Tie-break matches the former
    # window's (desc ccos, asc cid): max over (ccos, -cid).
    best = F.max_by(
        F.struct(F.col("cid"), F.col("cv")),
        F.struct(F.col("ccos"), (-F.col("cid")).alias("ncid")),
    ).alias("best")
    cell_of = (
        assigned.groupBy("neighbor_id")
        .agg(best)
        .select("neighbor_id", F.col("best.cid").alias("cid"),
                F.col("best.cv").alias("cv"))
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    qprobe = with_cosine(
        q.crossJoin(F.broadcast(cents)), "qv", "cvec", "qcos"
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("cid"))
    probes = (
        qprobe.withColumn("r", F.row_number().over(wq))
        .where(F.col("r") <= n_probe)
        .select("query_id", "cid", "qv")
    )
    cand = probes.join(cell_of, "cid").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = with_cosine(cand, "qv", "cv")
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.select("query_id", "neighbor_id", "cosine")
        .withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
    )
