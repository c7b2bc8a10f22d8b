"""Similarity search over the `embeddings` table (array<float> vectors).

- q_ann_cosine_topk:      brute-force cosine top-k (the exactness baseline);
                          broadcast the tiny query set, rank with a window —
                          at scale this is a map-side broadcast join + per-query
                          top-k (no shuffle of the big side beyond the ranking).
- q_embedding_cosine_dup: exact all-pairs near-dup above a cosine threshold
                          (quadratic — correctness baseline only).
- q_embedding_cosine_lsh: the scale path: banded sign-LSH (random-hyperplane
                          family, axis-aligned instantiation for engine
                          portability) → equi-join on band buckets → cosine
                          verify on candidates only. Candidate volume scales
                          with bucket collision rates, not n².
- q_ann_ivf_topk:         IVF (inverted-file) ANN: broadcast a small centroid
                          set, assign every vector to its nearest cell
                          (map-side, no shuffle of the big table), probe the
                          nprobe nearest cells per query, exact cosine only
                          inside probed cells. At 100 TB the scan side stays
                          partitioned by cell id, so a probe touches nprobe/n
                          of the data; centroids here are a deterministic
                          sample (a production build would k-means|| them —
                          same plan shape, different centroid values).

Scores are rounded to 6 decimals in BOTH engines; the underlying doubles are
bit-identical (see functions/vectors.py), so rounding is too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_job_spark.functions.vectors import (
    as_double_array,
    cosine_duck,
    dot,
    norm,
    sign_bucket,
    sign_bucket_duck,
)
from flink_job_spark.queries import register
from flink_job_spark.sources.tables import fan_out, fan_out_by, load_table

TOPK = 10
N_QUERY_VECS = 5
COSINE_DUP_THRESHOLD = 0.4
COSINE_DUP_BLOCKS = 8  # B: all-pairs block grid; B(B+1)/2 tasks, 2n/B vecs per task
LSH_BAND_DIMS = 4   # dims per sign band
LSH_BANDS = 4       # bands → dims 1..16 used
IVF_CENTROIDS = 8   # deterministic coarse-quantizer size
IVF_NPROBE = 2      # cells probed per query
KMEANS_ITERS = 3    # Lloyd iterations for the k-means IVF variant
IVF_KMEANS_NPROBE = 3  # recall@10 ≥ 0.9 on testdata at 3/8 cells (measured)


def _vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, v double[], nv = ||v||).

    Norms are computed ONCE per row here, not once per pair inside joins.
    The fold form (aggregate/zip_with) is deliberate: an unrolled fixed-dim
    expression looks codegen-friendly but its janino compile time (~4-5 s for
    64 terms) dwarfs evaluation at any per-task row count, and the fold is
    bit-identical (see functions/vectors.py).
    """
    e = fan_out(load_table(spark, sf_dir, "embeddings"))
    e = e.select("vec_id", as_double_array("embedding").alias("v"))
    return e.withColumn("nv", norm("v"))


# --- q_ann_cosine_topk ------------------------------------------------------------

@register(
    "q_ann_cosine_topk",
    f"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
  q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {N_QUERY_VECS}),
  scored AS (
    SELECT q.qid, e.vec_id, round({cosine_duck('q.qv', 'e.v')}, 6) AS score
    FROM q CROSS JOIN e WHERE e.vec_id <> q.qid
  )
  SELECT qid, vec_id, score, CAST(rank AS BIGINT) AS rank FROM (
    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
    FROM scored
  ) WHERE rank <= {TOPK}""",
    doc=f"brute-force cosine top-{TOPK} for {N_QUERY_VECS} query vectors "
        "(broadcast queries, rank per query)",
    tags=("similarity", "ann"),
)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _vecs(spark, sf_dir)
    q = (e.filter(F.col("vec_id") < N_QUERY_VECS)
          .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
                  F.col("nv").alias("nq")))
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id",
                F.round(dot("qv", "v") / (F.col("nq") * F.col("nv")), 6)
                 .alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
                  .filter(F.col("rank") <= TOPK))


# --- q_embedding_cosine_dup (exact baseline) ---------------------------------------

@register(
    "q_embedding_cosine_dup",
    f"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
  SELECT a.vec_id AS v1, b.vec_id AS v2, round({cosine_duck('a.v', 'b.v')}, 6) AS score
  FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE round({cosine_duck('a.v', 'b.v')}, 6) >= {COSINE_DUP_THRESHOLD}""",
    doc=f"exact embedding near-dup: all-pairs cosine ≥ {COSINE_DUP_THRESHOLD} "
        "(quadratic correctness baseline)",
    tags=("similarity", "dedup"),
)
def q_embedding_cosine_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed block-matrix all-pairs scoring — NOTHING is collected to
    the driver. Vectors are gridded into B blocks by vec_id; every unordered
    block pair (bi<=bj) is one applyInPandas group, and each row is replicated
    to the B groups whose pair contains its block (one shuffle of n·B rows —
    each vector ships B times total, never once per pair; a pair join would
    Arrow-ship 2·dim doubles for every one of the n²/2 pairs). Inside a group
    the cross-block score matrix is computed vectorized; survivors (~0.05%)
    are the only rows emitted.

    Executor memory per task is 2·(n/B)·dim doubles — at 100 TB, B scales as
    n·dim·8/mem_target so a task never holds more than the two blocks, and
    the B(B+1)/2 tasks spread across the cluster. Driver memory is O(1).

    FP parity with the fold/oracle is kept by accumulating column-by-column
    (acc = acc + A[:,i]*B[:,i]): every pair sees the exact IEEE op sequence
    of ``aggregate(zip_with(...))`` and DuckDB's in-order list_dot_product
    (dot and na·nb are FP-commutative, so row/col side order is irrelevant).
    The Python-side prefilter uses threshold−1e-6; the exact HALF_UP rounding
    and final threshold run JVM-side, so boundary behavior matches the oracle.

    Exact all-pairs is the correctness baseline (quadratic compute by
    definition — use q_embedding_cosine_lsh / q_ann_ivf_topk as the
    sub-quadratic scale paths).
    """
    import numpy as np
    import pandas as pd

    B = COSINE_DUP_BLOCKS
    prefilter = COSINE_DUP_THRESHOLD - 1e-6
    e = _vecs(spark, sf_dir)

    # row in block b joins pair-group (o,b) for o<=b and (b,o) for o>b;
    # pid = bi*B + bj with bi<=bj
    b = F.pmod(F.col("vec_id"), F.lit(B))
    pids = F.transform(
        F.sequence(F.lit(0), F.lit(B - 1)),
        lambda o: F.when(o <= b, o * B + b).otherwise(b * B + o),
    )
    rep = e.withColumn("b", b).withColumn("pid", F.explode(pids))

    def score_block_pair(key, pdf):
        pid = int(key[0])
        bi, bj = divmod(pid, B)

        def unpack(part):
            ids = part["vec_id"].to_numpy(dtype=np.int64)
            if len(ids) == 0:
                return ids, np.zeros((0, 0)), np.zeros(0)
            vm = np.stack([np.asarray(x, dtype=np.float64) for x in part["v"]])
            nm = part["nv"].to_numpy(dtype=np.float64)
            return ids, vm, nm

        ida, va, na = unpack(pdf[pdf["b"] == bi])
        idb, vb, nb = unpack(pdf[pdf["b"] == bj] if bi != bj else pdf[pdf["b"] == bi])
        if len(ida) == 0 or len(idb) == 0:
            return pd.DataFrame({"v1": [], "v2": [], "raw": []}).astype(
                {"v1": "int64", "v2": "int64", "raw": "float64"})
        acc = np.zeros((len(ida), len(idb)), dtype=np.float64)
        for i in range(va.shape[1]):  # sequential per-pair accum (FP parity)
            np.add(acc, va[:, i:i + 1] * vb[None, :, i], out=acc)
        raw = acc / (na[:, None] * nb[None, :])
        if bi == bj:
            mask = (ida[:, None] < idb[None, :]) & (raw >= prefilter)
        else:  # cross-block: every pair is unique to this group
            mask = raw >= prefilter
        i1, i2 = np.nonzero(mask)
        a, c = ida[i1], idb[i2]
        return pd.DataFrame({"v1": np.minimum(a, c), "v2": np.maximum(a, c),
                             "raw": raw[i1, i2]})

    pairs = fan_out_by(rep, "pid").groupBy("pid").applyInPandas(
        score_block_pair, "v1 bigint, v2 bigint, raw double")
    return (pairs.select("v1", "v2", F.round("raw", 6).alias("score"))
                 .filter(F.col("score") >= COSINE_DUP_THRESHOLD))


# --- q_embedding_cosine_lsh (the scale path) ------------------------------------------

_DUCK_BANDS = " UNION ALL ".join(
    f"SELECT vec_id, {b} AS band, {sign_bucket_duck('v', LSH_BAND_DIMS, b * LSH_BAND_DIMS)} AS bh FROM e"
    for b in range(LSH_BANDS)
)

def _score_pairs_tiled(ids, vm, nm, prefilter, chunk=2048):
    """Score all ordered pairs (ids[i] < ids[j]) of one LSH bucket with a
    sequential-per-dim accumulation (FP parity with the SQL fold), tiling
    BOTH axes so scratch never exceeds chunk x chunk floats (32 MB at the
    default — ADVICE r4: a dense bucket previously allocated chunk x n).
    Per-element FP order is unchanged by tiling: each (i, j) cell's
    accumulation is independent. The n x dim member matrix vm itself
    (~512 B/row at dim 64) is the remaining per-group bound — ~0.5 GB at
    1M members/bucket; re-parameterize bands before any bucket nears that.
    Returns (ids_a, ids_b, raw_scores) numpy arrays."""
    import numpy as np

    out_a, out_b, out_r = [], [], []
    n = len(ids)
    for lo in range(0, n, chunk):
        hi = min(lo + chunk, n)
        for clo in range(0, n, chunk):
            chi = min(clo + chunk, n)
            if chi <= lo + 1:
                # ids is sorted, so a tile entirely at-or-below the
                # diagonal has an all-false `ids[i] < ids[j]` mask —
                # skipping it halves the dim-loop FLOPs of a dense
                # bucket without touching the FP order of surviving
                # cells (review-caught r5)
                continue
            acc = np.zeros((hi - lo, chi - clo), dtype=np.float64)
            for i in range(vm.shape[1]):    # sequential accum (FP parity)
                np.add(acc, vm[lo:hi, i:i + 1] * vm[None, clo:chi, i],
                       out=acc)
            raw = acc / (nm[lo:hi, None] * nm[None, clo:chi])
            mask = ((ids[lo:hi, None] < ids[None, clo:chi])
                    & (raw >= prefilter))
            i1, i2 = np.nonzero(mask)
            out_a.append(ids[lo + i1])
            out_b.append(ids[clo + i2])
            out_r.append(raw[i1, i2])
    return (np.concatenate(out_a), np.concatenate(out_b),
            np.concatenate(out_r))


@register(
    "q_embedding_cosine_lsh",
    f"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
  bandrows AS ({_DUCK_BANDS}),
  cand AS (
    SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
    FROM bandrows a JOIN bandrows b
      ON a.band = b.band AND a.bh = b.bh AND a.vec_id < b.vec_id
  )
  SELECT c.v1, c.v2, round({cosine_duck('ea.v', 'eb.v')}, 6) AS score
  FROM cand c JOIN e ea ON ea.vec_id = c.v1 JOIN e eb ON eb.vec_id = c.v2
  WHERE round({cosine_duck('ea.v', 'eb.v')}, 6) >= {COSINE_DUP_THRESHOLD}""",
    doc=f"sign-LSH banded near-dup: {LSH_BANDS} bands × {LSH_BAND_DIMS} sign dims "
        f"→ bucket equi-join → cosine verify ≥ {COSINE_DUP_THRESHOLD}",
    tags=("similarity", "lsh"),
)
def q_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-LOCAL vectorized scoring (r4 sf1-slope fix): each (band, bh)
    group scores its members with the same sequential-per-dim numpy matmul
    as the exact block-pair operator (FP-parity with the SQL fold), and only
    threshold survivors leave the Python worker; a final distinct dedups
    pairs colliding in several bands. Output set is unchanged (same oracle):
    pairs sharing >= 1 band bucket with cosine >= threshold.

    Why not the candidate-join form (r3): at the 0.4 threshold sign-LSH
    bands must stay narrow (4 sign dims = 16 buckets/band) to keep
    recall, so bucket density — and with it candidate count — grows
    linearly with the corpus and pairs quadratically: the sf1 sweep
    measured the join form at 116x the sf0.1 cost (50M-candidate distinct,
    then two 64-dim-array re-attach joins). Scoring inside the bucket
    group turns those candidates into one BLAS-shaped pass per bucket and
    ships only survivors (~6k rows at sf1). The quadratic candidate count
    is inherent to (threshold, corpus) — re-parameterize bands per corpus
    at production scale; the cap-style alternative (skip overfull buckets)
    zeroes recall here because EVERY bucket is dense at 16/band."""
    import numpy as np
    import pandas as pd

    # raw-score prefilter inside the worker; exact HALF_UP rounding decides
    # at the boundary in the Spark filter (same pattern as the exact key)
    prefilter_lsh = COSINE_DUP_THRESHOLD - 1e-6
    e = _vecs(spark, sf_dir)
    bandrows = e.select(
        "vec_id", "v", "nv",
        F.posexplode(
            F.array(*[sign_bucket("v", LSH_BAND_DIMS, b * LSH_BAND_DIMS)
                      for b in range(LSH_BANDS)])
        ).alias("band", "bh"),
    )

    def score_bucket(key, pdf):
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        if len(ids) < 2:
            return pd.DataFrame({"v1": [], "v2": [], "raw": []}).astype(
                {"v1": "int64", "v2": "int64", "raw": "float64"})
        order = np.argsort(ids)
        ids = ids[order]
        vm = np.stack([np.asarray(x, dtype=np.float64)
                       for x in pdf["v"].iloc[order]])
        nm = pdf["nv"].to_numpy(dtype=np.float64)[order]
        a, b, r = _score_pairs_tiled(ids, vm, nm, prefilter_lsh)
        return pd.DataFrame({"v1": a, "v2": b, "raw": r})

    pairs = fan_out_by(bandrows, "band", "bh").groupBy("band", "bh").applyInPandas(
        score_bucket, "v1 bigint, v2 bigint, raw double")
    return (pairs.select("v1", "v2", F.round("raw", 6).alias("score"))
                 .filter(F.col("score") >= COSINE_DUP_THRESHOLD)
                 .distinct())


# --- q_ann_ivf_topk (IVF: broadcast centroids → cell-local exact search) -----------

@register(
    "q_ann_ivf_topk",
    f"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
  cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < {IVF_CENTROIDS}),
  assign AS (
    SELECT vec_id, v, cent_id FROM (
      SELECT e.vec_id, e.v, c.cent_id,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {cosine_duck('e.v', 'c.cv')} DESC, c.cent_id) AS rn
      FROM e CROSS JOIN cents c) WHERE rn = 1
  ),
  q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {N_QUERY_VECS}),
  probe AS (
    SELECT qid, qv, cent_id FROM (
      SELECT q.qid, q.qv, c.cent_id,
             row_number() OVER (PARTITION BY q.qid
                                ORDER BY {cosine_duck('q.qv', 'c.cv')} DESC, c.cent_id) AS rn
      FROM q CROSS JOIN cents c) WHERE rn <= {IVF_NPROBE}
  ),
  scored AS (
    SELECT p.qid, a.vec_id, round({cosine_duck('p.qv', 'a.v')}, 6) AS score
    FROM probe p JOIN assign a ON a.cent_id = p.cent_id AND a.vec_id <> p.qid
  )
  SELECT qid, vec_id, score, CAST(rank AS BIGINT) AS rank FROM (
    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
    FROM scored
  ) WHERE rank <= {TOPK}""",
    doc=f"IVF ANN: {IVF_CENTROIDS} deterministic centroids, map-side nearest-cell "
        f"assignment (no shuffle of the big side), nprobe={IVF_NPROBE} cell-local "
        f"exact top-{TOPK}",
    tags=("similarity", "ann", "ivf"),
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF layout: centroids are tiny by definition, so they are collected and
    embedded as literal vectors — cell assignment is then a pure map-side
    expression over the big table (zero shuffle; at 100 TB the table stays
    partitioned by cell id and a probe touches ~nprobe/n_cells of the data).
    Centroids here are a deterministic id-sample (q_ann_ivf_kmeans trains them
    with Lloyd iterations — identical plan shape, better centroid values)."""
    _require_query_subset("IVF_CENTROIDS", IVF_CENTROIDS)
    e = _vecs(spark, sf_dir)
    cents = _collect_low_vecs(e, IVF_CENTROIDS)
    return _ivf_probe_plan(spark, e, cents, IVF_NPROBE,
                           qrows=[r for r in cents if r[0] < N_QUERY_VECS])


def _pydot(a, b):
    """Sequential fold — the exact IEEE op order of dot()/list_dot_product."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _require_query_subset(limit_name: str, limit: int) -> None:
    """The probe keys take their query vectors from the low-id sample they
    already collected (vec_id < limit). More query vectors than that sample
    holds would be dropped silently, so refuse before any Spark work."""
    if N_QUERY_VECS > limit:
        raise ValueError(
            f"N_QUERY_VECS={N_QUERY_VECS} exceeds {limit_name}={limit}: the "
            "query vectors must be a subset of the collected low-id sample")


def _collect_low_vecs(e: DataFrame, n: int) -> list[tuple[int, list[float], float]]:
    """ONE collect of the deterministic low-id sample, shared by centroid
    init AND the query-vector probe set (N_QUERY_VECS <= IVF_CENTROIDS, so
    the probe rows are a subset; _require_query_subset enforces it) — the
    r9 IVF keys paid two separate collect jobs for overlapping
    constant-size row sets (guide §2.4: fewer actions; bench-scale cost is
    job-count dominated)."""
    rows = sorted(
        e.filter(F.col("vec_id") < n).select("vec_id", "v", "nv").collect(),
        key=lambda r: r["vec_id"],
    )
    return [(int(r["vec_id"]), [float(x) for x in r["v"]], float(r["nv"]))
            for r in rows]


def _cell_assignment(cents: list[tuple[int, list[float], float]]):
    """Map-side nearest-centroid expression from literal centroids.

    Literal centroid table as an array<struct> column: assignment is argmax
    over k in-row cosine scores — compact expression (janino-safe), zero
    shuffle of the big table. struct max compares (score, -cent_id)
    field-by-field, so ties pick the lowest cent_id, matching the oracle's
    ORDER BY score DESC, cent_id."""
    cent_lit = F.array(*[
        F.struct(
            F.lit(cid).alias("cid"),
            F.lit(nv).alias("nc"),
            F.array(*[F.lit(x) for x in cv]).alias("cv"),
        )
        for cid, cv, nv in cents
    ])
    score_c = lambda c: F.aggregate(  # noqa: E731 — dot/(nv*nc), fold from 0.0
        F.zip_with(F.col("v"), c["cv"], lambda x, y: x * y),
        F.lit(0.0), lambda acc, p: acc + p,
    ) / (F.col("nv") * c["nc"])
    best = F.array_max(F.transform(
        cent_lit,
        lambda c: F.struct(score_c(c).alias("s"), (-c["cid"]).alias("negcid")),
    ))
    return (-best["negcid"]).cast("long")


def _ivf_probe_plan(spark: SparkSession, e: DataFrame,
                    cents: list[tuple[int, list[float], float]],
                    nprobe: int,
                    qrows: list[tuple[int, list[float], float]] | None = None,
                    ) -> DataFrame:
    """Shared IVF probe: map-side cell assignment, driver-side probe-cell
    choice for the tiny query set, exact cosine only inside probed cells.
    `qrows` lets a caller that already collected the low-id rows (centroid
    init) reuse them instead of paying a second collect job."""
    assigned = e.withColumn("cent_id", _cell_assignment(cents))

    # probe: per query, top-nprobe centroids — queries are tiny, computed
    # driver-side with the same IEEE op sequence (Python floats are doubles)
    probes = []
    if qrows is None:
        qrows = _collect_low_vecs(e, N_QUERY_VECS)
    for qid, qv, qnv in qrows:
        scored_cells = sorted(
            ((_pydot(qv, cv) / (qnv * nv), cid)
             for cid, cv, nv in cents),
            key=lambda t: (-t[0], t[1]),
        )
        for s, cid in scored_cells[:nprobe]:
            probes.append((qid, cid, qv, qnv))

    probe_df = spark.createDataFrame(
        probes, "qid bigint, cent_id bigint, qv array<double>, nq double")

    scored = (
        assigned.join(F.broadcast(probe_df), "cent_id")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id",
                F.round(dot("qv", "v") / (F.col("nq") * F.col("nv")), 6)
                 .alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
                  .filter(F.col("rank") <= TOPK))


# --- q_ann_ivf_kmeans (Lloyd-trained coarse quantizer, cross-engine exact) ---------

def kmeans_lite_centroids(spark: SparkSession, e: DataFrame, k: int,
                          iters: int,
                          init: list[tuple[int, list[float], float]] | None = None,
                          ) -> list[tuple[int, list[float], float]]:
    """Deterministic distributed Lloyd iterations, bit-reproducible across
    engines (the DuckDB oracle re-derives the identical centroids):

    - init: the k lowest vec_ids (seeded, engine-independent)
    - assignment: map-side argmax cosine against literal centroids (ties →
      lowest cent_id) — zero shuffle of the big table
    - update: per-(cell, dim) mean via DECIMAL(38,12) sums — decimals make
      the reduction exact and therefore order-independent (a plain double sum
      would differ run-to-run with partitioning); the final value casts the
      exact sum to double and divides by the count, one IEEE op sequence
      every engine reproduces
    - empty cells keep their previous centroid

    Per iteration: one map + one combine-enabled shuffle of n·dim (cell, dim,
    sum) partials; centroids (k·dim doubles) ride the driver, as in any
    k-means implementation. Production at 100 TB would swap the init for
    k-means|| sampling — the iteration plan is unchanged."""
    cents = _collect_low_vecs(e, k) if init is None else init
    for _ in range(iters):
        assigned = e.withColumn("cent_id", _cell_assignment(cents))
        sums = (
            assigned.select("cent_id", F.posexplode("v").alias("pos", "x"))
            .groupBy("cent_id", "pos")
            .agg(F.sum(F.col("x").cast("decimal(38,12)")).alias("s"),
                 F.count(F.lit(1)).alias("n"))
            .collect()
        )
        acc: dict[int, dict[int, float]] = {}
        for r in sums:
            # CAST(exact decimal AS DOUBLE) / CAST(n AS DOUBLE): float(Decimal)
            # and the division are correctly rounded in every engine
            acc.setdefault(int(r["cent_id"]), {})[int(r["pos"])] = (
                float(r["s"]) / float(r["n"]))
        new_cents = []
        for cid, cv, nv in cents:  # empty cell → previous centroid
            if cid in acc:
                m = acc[cid]
                cv = [m[p] for p in range(len(cv))]
                sq = 0.0
                for x in cv:
                    sq = sq + x * x
                nv = sq ** 0.5
            new_cents.append((cid, cv, nv))
        cents = new_cents
    return cents


def _duck_kmeans_ctes(k: int, iters: int) -> str:
    """Unrolled Lloyd iterations as DuckDB CTEs, replicating
    kmeans_lite_centroids bit-for-bit: same init, same tie-broken argmax
    assignment, same DECIMAL(38,12)-exact means (the VARCHAR hop makes the
    double→decimal cast round the shortest repr, as Spark/Java do). Yields a
    final CTE ``cents(cent_id, cv)``."""
    parts = [f"c0 AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < {k})"]
    for it in range(1, iters + 1):
        prev = f"c{it - 1}"
        parts.append(f"""a{it} AS (
    SELECT vec_id, v, cent_id FROM (
      SELECT e.vec_id, e.v, c.cent_id,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {cosine_duck('e.v', 'c.cv')} DESC, c.cent_id) AS rn
      FROM e CROSS JOIN {prev} c) WHERE rn = 1
  )""")
        parts.append(f"""m{it} AS (
    SELECT cent_id, p.pos AS pos,
           CAST(SUM(CAST(CAST(v[p.pos] AS VARCHAR) AS DECIMAL(38,12))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS x
    FROM a{it}, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS pos) p
    GROUP BY 1, 2
  )""")
        parts.append(f"""c{it} AS (
    SELECT p.cent_id, COALESCE(n.cv, p.cv) AS cv
    FROM {prev} p LEFT JOIN (
      SELECT cent_id, list(x ORDER BY pos) AS cv FROM m{it} GROUP BY 1) n
      ON n.cent_id = p.cent_id
  )""")
    parts.append(f"cents AS (SELECT cent_id, cv FROM c{iters})")
    return ",\n  ".join(parts)


@register(
    "q_ann_ivf_kmeans",
    f"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
  {_duck_kmeans_ctes(IVF_CENTROIDS, KMEANS_ITERS)},
  assign AS (
    SELECT vec_id, v, cent_id FROM (
      SELECT e.vec_id, e.v, c.cent_id,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {cosine_duck('e.v', 'c.cv')} DESC, c.cent_id) AS rn
      FROM e CROSS JOIN cents c) WHERE rn = 1
  ),
  q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < {N_QUERY_VECS}),
  probe AS (
    SELECT qid, qv, cent_id FROM (
      SELECT q.qid, q.qv, c.cent_id,
             row_number() OVER (PARTITION BY q.qid
                                ORDER BY {cosine_duck('q.qv', 'c.cv')} DESC, c.cent_id) AS rn
      FROM q CROSS JOIN cents c) WHERE rn <= {IVF_KMEANS_NPROBE}
  ),
  scored AS (
    SELECT p.qid, a.vec_id, round({cosine_duck('p.qv', 'a.v')}, 6) AS score
    FROM probe p JOIN assign a ON a.cent_id = p.cent_id AND a.vec_id <> p.qid
  )
  SELECT qid, vec_id, score, CAST(rank AS BIGINT) AS rank FROM (
    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rank
    FROM scored
  ) WHERE rank <= {TOPK}""",
    doc=f"IVF ANN with k-means-lite centroids ({KMEANS_ITERS} exact-decimal "
        f"Lloyd iterations, k={IVF_CENTROIDS}), nprobe={IVF_KMEANS_NPROBE} "
        f"cell-local exact top-{TOPK}; recall@10 ≥ 0.9 vs brute force (tested)",
    tags=("similarity", "ann", "ivf", "kmeans"),
)
def q_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same probe plan as q_ann_ivf_topk, with Lloyd-trained centroids.
    e is persisted across the iterations (each reads it once). The low-id
    sample is collected ONCE and feeds both the Lloyd init and the probe's
    query-vector set (r10: two constant-size collect jobs folded into one;
    the query vectors are raw table rows either way, never re-trained)."""
    _require_query_subset("IVF_CENTROIDS", IVF_CENTROIDS)
    e = _vecs(spark, sf_dir).persist()
    low = _collect_low_vecs(e, IVF_CENTROIDS)
    cents = kmeans_lite_centroids(spark, e, IVF_CENTROIDS, KMEANS_ITERS,
                                  init=low)
    return _ivf_probe_plan(spark, e, cents, IVF_KMEANS_NPROBE,
                           qrows=[r for r in low if r[0] < N_QUERY_VECS])


# --- q_embedding_quantize (int8 symmetric quantization) ----------------------------

@register(
    "q_embedding_quantize",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
  scaled AS (
    SELECT vec_id, v,
           list_max(list_transform(v, x -> abs(x))) AS amax
    FROM e
  ),
  q AS (
    SELECT vec_id, v, amax,
           CASE WHEN amax = 0 THEN 0.0 ELSE 127.0 / amax END AS scale,
           list_transform(v, x -> CASE
             WHEN amax = 0 THEN 0
             WHEN x >= 0 THEN CAST(floor(x * (127.0 / amax) + 0.5) AS INT)
             ELSE -CAST(floor(-x * (127.0 / amax) + 0.5) AS INT) END) AS qv
    FROM scaled
  )
  SELECT vec_id, round(scale, 6) AS scale,
         array_to_string(list_transform(qv, x -> CAST(x AS VARCHAR)), ',')
           AS qv,
         round(list_max(list_transform(
           list_zip(v, qv),
           p -> abs(p[1] - CASE WHEN scale = 0 THEN 0.0
                                ELSE CAST(p[2] AS DOUBLE) / scale END))), 6)
           AS max_abs_err
  FROM q""",
    doc="symmetric int8 embedding quantization: per-vector scale 127/max|x|, "
        "round-half-away ints, exact max reconstruction error — the 4× "
        "memory/bandwidth lever for ANN cell storage at scale",
    tags=("similarity", "quantize"),
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-only: every expression is a per-row array transform (no shuffle,
    no UDF). The round-half-away formula is spelled with floor/abs so Spark
    and DuckDB produce identical ints on every IEEE double (no reliance on
    engine round() semantics); the error metric dequantizes with the same
    one-division sequence. At 100 TB this runs at scan speed and cuts IVF
    cell storage 4× (<1% cosine error on unit-norm-ish vectors — tested).

    The per-row reductions (amax, scale) go through a persist() barrier:
    CollapseProject would otherwise inline the amax array-scan into EVERY
    lambda element of the downstream transforms (O(dim²) interpreted work per
    row — measured 4.3 s vs 0.6 s at sf0.1). After the barrier the lambdas
    read plain columns."""
    e = fan_out(load_table(spark, sf_dir, "embeddings"))
    v = as_double_array("embedding")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    base = (
        e.select("vec_id", v.alias("v"), amax.alias("amax"))
        .withColumn("scale", F.when(F.col("amax") == 0, F.lit(0.0))
                              .otherwise(F.lit(127.0) / F.col("amax")))
    ).persist()
    sc = F.col("scale")
    qv = F.transform(
        F.col("v"), lambda x: F.when(sc == 0, F.lit(0)).otherwise(
            F.when(x >= 0, F.floor(x * sc + F.lit(0.5)))
             .otherwise(-F.floor(-x * sc + F.lit(0.5)))
        ).cast("int"))
    deq_err = F.array_max(F.zip_with(
        F.col("v"), qv,
        lambda x, qx: F.abs(x - F.when(sc == 0, F.lit(0.0))
                                .otherwise(qx.cast("double") / sc))))
    return base.select(
        "vec_id",
        F.round(sc, 6).alias("scale"),
        # serialized, not array-typed: engines render arrays differently in
        # pandas (list vs ndarray), so the comparable form is one string
        F.array_join(F.transform(qv, lambda x: x.cast("string")), ",")
         .alias("qv"),
        F.round(deq_err, 6).alias("max_abs_err"),
    )


# --- q_label_centroids: distributed per-class mean vectors ---------------------------

@register(
    "q_label_centroids",
    """WITH e AS (
         SELECT label, embedding AS v,
                unnest(range(1, len(embedding) + 1)) AS dim
         FROM embeddings
       )
       SELECT label, CAST(dim AS INT) AS dim,
              CAST(COUNT(1) AS BIGINT) AS n_vecs,
              ROUND(CAST(SUM(CAST(CAST(v[dim] AS DOUBLE) AS DECIMAL(28,12)))
                         AS DOUBLE) / CAST(COUNT(1) AS DOUBLE), 6) AS centroid
       FROM e GROUP BY label, dim""",
    doc="per-label mean embedding (class centroids), one row per (label, "
        "dimension) — the distributed centroid-update step of k-means and "
        "the class-prototype builder for nearest-centroid classification",
    tags=("similarity", "agg", "vectors"),
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode flattens vectors to (label, dim, x) map-side, then ONE
    combine-enabled shuffle on (label, dim) — partial sums reduce each map
    partition to |labels|·|dims| rows before the exchange, so shuffle volume
    is independent of corpus size. Per-dim sums ride the exact-DECIMAL
    detour (float → double widening is exact; double addition is not
    associative, decimal addition is) so the centroid is partition-order-free
    and engine-identical. This is exactly how the IVF trainer
    (q_ann_ivf_kmeans) updates centroids, exposed as a standalone operator."""
    e = fan_out(load_table(spark, sf_dir, "embeddings"))
    flat = e.select(
        "label",
        F.posexplode("embedding").alias("pos", "x"),
    )
    return (
        flat.groupBy("label", (F.col("pos") + 1).cast("int").alias("dim"))
            .agg(
                F.count(F.lit(1)).alias("n_vecs"),
                F.round(
                    F.sum(F.col("x").cast("double").cast("decimal(28,12)"))
                     .cast("double") / F.count(F.lit(1)).cast("double"), 6
                ).alias("centroid"),
            )
    )


# --- q_vector_dim_stats: per-dimension distribution stats ----------------------------

@register(
    "q_vector_dim_stats",
    """WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
  ex AS (SELECT CAST(generate_subscripts(v, 1) - 1 AS INT) AS dim,
                unnest(v) AS x
         FROM e),
  m AS (SELECT dim, x, CAST(x AS DECIMAL(18,9)) AS dx,
               CAST(CAST(x * x AS DOUBLE) AS DECIMAL(38,12)) AS dx2
        FROM ex)
  SELECT dim, CAST(COUNT(1) AS BIGINT) AS n,
         ROUND(CAST(SUM(dx) AS DOUBLE) / CAST(COUNT(1) AS DOUBLE), 6) AS mean,
         ROUND((CAST(SUM(dx2) AS DOUBLE)
                - CAST(SUM(dx) AS DOUBLE) * CAST(SUM(dx) AS DOUBLE)
                  / CAST(COUNT(1) AS DOUBLE))
               / CAST(COUNT(1) - 1 AS DOUBLE), 6) AS variance,
         MIN(x) AS vmin, MAX(x) AS vmax
  FROM m GROUP BY dim""",
    doc="per-dimension mean/variance/min/max across the embedding corpus "
        "from exact decimal moments — the normalization-stats pass run "
        "before feature scaling or whitening",
    tags=("similarity", "agg", "stats"),
)
def q_vector_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode is map-side (n·dim rows but zero pre-shuffle state); the
    single combine-enabled shuffle carries dim-cardinality groups of four
    partials (n, Σx, Σx², min/max). Sums ride exact DECIMAL detours so the
    result is partition-order-free; min/max are order-free by nature. At
    100 TB the reduce side is |dims| rows — the scan dominates, as it
    should."""
    e = fan_out(load_table(spark, sf_dir, "embeddings"))
    ex = (e.select(as_double_array("embedding").alias("v"))
           .select(F.posexplode("v").alias("dim", "x")))
    m = ex.select(
        "dim", "x",
        F.col("x").cast("decimal(18,9)").alias("dx"),
        (F.col("x") * F.col("x")).cast("double")
            .cast("decimal(38,12)").alias("dx2"),
    )
    n = F.count(F.lit(1))
    sx = F.sum("dx").cast("double")
    sx2 = F.sum("dx2").cast("double")
    return m.groupBy("dim").agg(
        n.cast("bigint").alias("n"),
        F.round(sx / n.cast("double"), 6).alias("mean"),
        F.round((sx2 - sx * sx / n.cast("double"))
                / (n - F.lit(1)).cast("double"), 6).alias("variance"),
        F.min("x").alias("vmin"),
        F.max("x").alias("vmax"),
    )


# --- q_knn_classify: k-NN majority-vote label prediction -----------------------------

KNN_K = 10

@register(
    "q_knn_classify",
    f"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
               FROM embeddings),
  q AS (SELECT vec_id AS qid, v AS qv, label AS true_label
        FROM e WHERE vec_id < {N_QUERY_VECS}),
  scored AS (
    SELECT q.qid, q.true_label, e.label,
           round({cosine_duck('q.qv', 'e.v')}, 6) AS score, e.vec_id
    FROM q CROSS JOIN e WHERE e.vec_id <> q.qid
  ),
  nn AS (
    SELECT qid, true_label, label FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY score DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {KNN_K}
  ),
  votes AS (
    SELECT qid, true_label, label, COUNT(1) AS n_votes FROM nn
    GROUP BY qid, true_label, label
  )
  SELECT qid, true_label, label AS pred_label, CAST(n_votes AS BIGINT) AS n_votes
  FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                     ORDER BY n_votes DESC, label) AS vr
        FROM votes)
  WHERE vr = 1""",
    doc=f"k-NN classification: majority label vote over the cosine top-{KNN_K} "
        f"neighbors of each query vector (ties break to the smallest label) — "
        "the label-propagation primitive behind weak-label bootstrapping",
    tags=("similarity", "ann", "ml"),
)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same broadcast-queries plan as q_ann_cosine_topk (the big side never
    shuffles for scoring), plus two tiny aggregations over k·|queries| rows.
    The vote and the winner pick both carry full deterministic tie-break
    orders, so the prediction is stable across engines and retries."""
    e = fan_out(load_table(spark, sf_dir, "embeddings"))
    e = (e.select("vec_id", as_double_array("embedding").alias("v"), "label")
          .withColumn("nv", norm("v")))
    q = (e.filter(F.col("vec_id") < N_QUERY_VECS)
          .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"),
                  F.col("nv").alias("nq"), F.col("label").alias("true_label")))
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select("qid", "true_label", "label", "vec_id",
                F.round(dot("qv", "v") / (F.col("nq") * F.col("nv")), 6)
                 .alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("vec_id"))
    nn = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= KNN_K)
    votes = nn.groupBy("qid", "true_label", "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_votes"))
    vw = Window.partitionBy("qid").orderBy(
        F.col("n_votes").desc(), F.col("label"))
    return (votes.withColumn("vr", F.row_number().over(vw))
                 .filter(F.col("vr") == 1)
                 .select("qid", "true_label",
                         F.col("label").alias("pred_label"), "n_votes"))


# --- q_ann_quantized: SQ8 coarse scoring + exact rerank ----------------------------

ANN_SQ8_RERANK = 30   # coarse candidates per query before the exact rerank

@register(
    "q_ann_quantized",
    f"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
  s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM e),
  qz AS (
    SELECT vec_id, v,
           list_transform(v, x -> CASE
             WHEN amax = 0 THEN 0
             WHEN x >= 0 THEN CAST(floor(x * (127.0 / amax) + 0.5) AS BIGINT)
             ELSE -CAST(floor(-x * (127.0 / amax) + 0.5) AS BIGINT) END) AS qv
    FROM s),
  qd AS (SELECT vec_id, v, qv,
                CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS qn2
         FROM qz),
  qq AS (SELECT vec_id AS qid, v AS fq, qv AS qqv, qn2 AS qn2q
         FROM qd WHERE vec_id < {N_QUERY_VECS}),
  coarse AS (
    SELECT qq.qid, qd.vec_id, qd.v, qq.fq,
           CASE WHEN qq.qn2q * qd.qn2 = 0 THEN 0.0
                ELSE CAST(list_sum(list_transform(list_zip(qq.qqv, qd.qv),
                                                  p -> p[1] * p[2])) AS DOUBLE)
                     / sqrt(CAST(qq.qn2q * qd.qn2 AS DOUBLE)) END AS qscore
    FROM qd CROSS JOIN qq WHERE qd.vec_id <> qq.qid),
  cand AS (
    SELECT qid, vec_id, v, fq FROM (
      SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY qscore DESC, vec_id) AS crank
      FROM coarse) WHERE crank <= {ANN_SQ8_RERANK})
  SELECT qid, vec_id, score, CAST(rank AS BIGINT) AS rank FROM (
    SELECT qid, vec_id, round((list_dot_product(fq, v) / (sqrt(list_dot_product(fq, fq)) * sqrt(list_dot_product(v, v)))), 6) AS score,
           row_number() OVER (PARTITION BY qid
                              ORDER BY round((list_dot_product(fq, v) / (sqrt(list_dot_product(fq, fq)) * sqrt(list_dot_product(v, v)))), 6) DESC, vec_id) AS rank
    FROM cand) WHERE rank <= {TOPK}""",
    doc=f"SQ8 ANN: int8-quantize the corpus, coarse-rank by INTEGER dot "
        f"products over the quantized codes (4× less memory traffic — the "
        f"production scan format), keep {ANN_SQ8_RERANK} candidates per "
        f"query, exact-cosine rerank to top-{TOPK}; the coarse score is one "
        "IEEE division of exact integers so both engines rank identically",
    tags=("similarity", "ann", "quantize"),
)
def q_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantize→coarse-scan→rerank pipeline every SQ8 vector index runs:
    the wide float vectors are read ONCE to build codes; the all-candidates
    scan touches only int8 codes (4× bandwidth), and exact floats come back
    ONLY for the RERANK-bounded candidate set. Integer dot products and
    squared norms are exact (≤ dim·127² ≪ 2^53), so the coarse score —
    intdot / sqrt(n2q·n2d) — is two correctly-rounded IEEE ops on exact
    inputs and both engines produce bit-identical ranking keys. The same
    persist() barrier as q_embedding_quantize keeps CollapseProject from
    inlining the amax scan into every transform lambda."""
    e = fan_out(load_table(spark, sf_dir, "embeddings"))
    v = as_double_array("embedding")
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    base = (
        e.select("vec_id", v.alias("v"), amax.alias("amax"))
    ).persist()
    am = F.col("amax")
    qv = F.transform(
        F.col("v"), lambda x: F.when(am == 0, F.lit(0)).otherwise(
            F.when(x >= 0, F.floor(x * (F.lit(127.0) / am) + F.lit(0.5)))
             .otherwise(-F.floor(-x * (F.lit(127.0) / am) + F.lit(0.5)))
        ).cast("bigint"))
    qd = (
        base.select("vec_id", "v", qv.alias("qv"))
            .withColumn("qn2", F.aggregate(
                F.transform(F.col("qv"), lambda x: x * x),
                F.lit(0).cast("bigint"), lambda acc, x: acc + x))
    ).persist()
    qq = (qd.filter(F.col("vec_id") < N_QUERY_VECS)
            .select(F.col("vec_id").alias("qid"), F.col("v").alias("fq"),
                    F.col("qv").alias("qqv"), F.col("qn2").alias("qn2q")))
    intdot = F.aggregate(
        F.zip_with(F.col("qqv"), F.col("qv"), lambda x, y: x * y),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    coarse = (
        qd.join(F.broadcast(qq), F.col("vec_id") != F.col("qid"))
          .select("qid", "vec_id", "v", "fq",
                  F.when(F.col("qn2q") * F.col("qn2") == 0, F.lit(0.0))
                   .otherwise(intdot.cast("double")
                              / F.sqrt((F.col("qn2q") * F.col("qn2"))
                                        .cast("double"))).alias("qscore"))
    )
    wc = Window.partitionBy("qid").orderBy(F.col("qscore").desc(), F.col("vec_id"))
    cand = (coarse.withColumn("crank", F.row_number().over(wc))
                  .filter(F.col("crank") <= ANN_SQ8_RERANK))
    score = F.round(dot("fq", "v") / (norm("fq") * norm("v")), 6)
    wr = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (
        cand.select("qid", "vec_id", score.alias("score"))
            .withColumn("rank", F.row_number().over(wr).cast("long"))
            .filter(F.col("rank") <= TOPK)
    )


# --- q_semdedup_prune: cluster-local semantic deduplication ------------------------
#
# SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public paper): embed, coarse-
# cluster, then prune near-duplicates WITHIN each cluster only, keeping the
# lowest-id member of every near-dup set. The cluster stage is what makes
# semantic dedup sub-quadratic: pairs are only scored inside a cell, never
# across the corpus. Centroids here are the same deterministic id-sample the
# IVF keys use (kmeans-trained centroids are a drop-in via
# kmeans_lite_centroids — identical plan shape).

SEMDEDUP_THRESHOLD = COSINE_DUP_THRESHOLD


@register(
    "q_semdedup_prune",
    f"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
  cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < {IVF_CENTROIDS}),
  assign AS (
    SELECT vec_id, v, cent_id FROM (
      SELECT e.vec_id, e.v, c.cent_id,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {cosine_duck('e.v', 'c.cv')} DESC, c.cent_id) AS rn
      FROM e CROSS JOIN cents c) WHERE rn = 1
  ),
  pruned AS (
    SELECT DISTINCT b.vec_id
    FROM assign a JOIN assign b
      ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
    WHERE round({cosine_duck('a.v', 'b.v')}, 6) >= {SEMDEDUP_THRESHOLD}
  )
  SELECT a.vec_id, a.cent_id AS cell, (p.vec_id IS NULL) AS keep
  FROM assign a LEFT JOIN pruned p ON a.vec_id = p.vec_id""",
    doc=f"SemDeDup semantic dedup: map-side assignment to {IVF_CENTROIDS} "
        "coarse cells, then cosine near-dup pruning INSIDE each cell only "
        f"(≥ {SEMDEDUP_THRESHOLD}, keep the lowest vec_id) — the "
        "cluster-then-prune shape that makes embedding-level dedup "
        "sub-quadratic on a 100 TB corpus",
    tags=("similarity", "dedup", "semdedup"),
)
def q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan: centroid literals -> zero-shuffle map-side cell assignment
    (same expression as the IVF keys), ONE shuffle grouping rows by cell,
    then the memory-tiled within-cell pair scorer (_score_pairs_tiled —
    FP-parity with the SQL fold, both axes tiled, sub-diagonal tiles
    skipped). Only pruned ids leave the Python worker; the keep flag is a
    small left join back onto the assignment.

    Scale contract: within-cell work is quadratic in CELL size by design —
    SemDeDup picks k proportional to corpus size so cells stay
    bounded (the paper uses k ≈ n/10k on LAION); here k = IVF_CENTROIDS
    matches the IVF keys so the oracle shares their assignment CTE. The
    raw-score prefilter runs at threshold−1e-6 inside the worker and the
    exact HALF_UP rounding decides at the boundary JVM-side, the same
    boundary discipline as q_embedding_cosine_dup/lsh."""
    import numpy as np
    import pandas as pd

    prefilter = SEMDEDUP_THRESHOLD - 1e-6
    e = _vecs(spark, sf_dir)
    cents = sorted(
        e.filter(F.col("vec_id") < IVF_CENTROIDS)
         .select(F.col("vec_id").alias("cent_id"), "v", "nv").collect(),
        key=lambda r: r["cent_id"],
    )
    cents = [(int(c["cent_id"]), [float(x) for x in c["v"]], float(c["nv"]))
             for c in cents]
    # both the pair scorer and the final keep-join read the assignment;
    # persist so the scan + norm + argmax run once (house pattern)
    assigned = e.withColumn("cell", _cell_assignment(cents)).persist()

    def score_cell(key, pdf):
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        if len(ids) < 2:
            return pd.DataFrame({"v1": [], "v2": [], "raw": []}).astype(
                {"v1": "int64", "v2": "int64", "raw": "float64"})
        order = np.argsort(ids)
        ids = ids[order]
        vm = np.stack([np.asarray(x, dtype=np.float64)
                       for x in pdf["v"].iloc[order]])
        nm = pdf["nv"].to_numpy(dtype=np.float64)[order]
        a, b, r = _score_pairs_tiled(ids, vm, nm, prefilter)
        return pd.DataFrame({"v1": a, "v2": b, "raw": r})

    pairs = fan_out_by(assigned, "cell").groupBy("cell").applyInPandas(
        score_cell, "v1 bigint, v2 bigint, raw double")
    pruned = (pairs.filter(F.round("raw", 6) >= SEMDEDUP_THRESHOLD)
                   .select(F.col("v2").alias("vec_id"))
                   .distinct()
                   .withColumn("is_pruned", F.lit(True)))
    return (assigned.select("vec_id", "cell")
                    .join(pruned, "vec_id", "left")
                    .select("vec_id", "cell",
                            F.col("is_pruned").isNull().alias("keep")))


# --- q_ann_pq (product quantization: subspace codebooks + ADC scan) ----------------

PQ_M = 8         # subspaces (64-dim vectors -> 8 sub-vectors of 8 dims)
PQ_SUBDIM = 8    # dims per subspace
PQ_CODES = 16    # codes per subspace codebook (deterministic id-sample)

PQ_CANDIDATES = 50  # ADC survivors per query kept for the exact rerank

_PQ_ONES = "[" + ", ".join(["1.0"] * PQ_SUBDIM) + "]"
_PQ_M_ONES = "[" + ", ".join(["1.0"] * PQ_M) + "]"
_PQ_FULL_ONES = "[" + ", ".join(["1.0"] * (PQ_M * PQ_SUBDIM)) + "]"


def _pq_subdist_duck(a: str, b: str) -> str:
    """Squared L2 between two DOUBLE[{PQ_SUBDIM}] lists with a pinned IEEE
    sequence: term_i = (a_i-b_i)*(a_i-b_i), folded left via list_dot_product
    against a ones vector (x*1.0 is exact, so the fold is acc + term_i in
    index order — bit-identical to Spark's aggregate(zip_with(...)) and to a
    Python left fold, verified empirically)."""
    return (
        f"list_dot_product(list_transform(range(1, {PQ_SUBDIM + 1}), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), {_PQ_ONES})"
    )


def pq_codebooks(e: DataFrame,
                 rows=None) -> list[list[tuple[int, list[float]]]]:
    """books[m] = [(code_id, subvec)] in code order — the deterministic
    id-sample codebook (vec_id < PQ_CODES), k*dim-tiny by definition.
    ``rows`` lets a caller that already collected the low-id sample skip
    the collect job (q_ann_pq shares it with the query-vector set)."""
    cb_rows = rows if rows is not None else sorted(
        e.filter(F.col("vec_id") < PQ_CODES).select("vec_id", "v").collect(),
        key=lambda r: r["vec_id"],
    )
    return [
        [(int(r["vec_id"]),
          [float(x) for x in r["v"][m * PQ_SUBDIM:(m + 1) * PQ_SUBDIM]])
         for r in cb_rows]
        for m in range(PQ_M)
    ]


def pq_encode(e: DataFrame,
              books: list[list[tuple[int, list[float]]]] | None = None
              ) -> DataFrame:
    """(vec_id, codes array<int>[PQ_M]) — pure map-side projection, zero
    shuffle of the big table.

    The fold form (aggregate over zip_with of the sub-slice vs the literal
    code vector) is deliberate, same reasoning as _vecs: a fully unrolled
    1024-term constant expression looked codegen-friendly but its janino
    compile dominated the key outright (14.1 s vs ~1 s at sf0.01 — the
    dot_fixed lesson at 16x the terms); the interpreted HOF evaluates the
    identical IEEE sequence (acc + (x-y)*(x-y) in index order from 0.0)
    with zero compile cost."""
    if books is None:
        books = pq_codebooks(e)

    def _code_expr(m: int):
        # min (dist, code): array_max of (-dist, -code) structs — field-wise
        # compare, ties pick the lowest code id (oracle: ORDER BY d, code_id)
        cb_lit = F.array(*[
            F.struct(F.lit(cid).alias("cid"),
                     F.array(*[F.lit(x) for x in cv]).alias("cv"))
            for cid, cv in books[m]
        ])
        sub = F.slice(F.col("v"), m * PQ_SUBDIM + 1, PQ_SUBDIM)
        dist = lambda c: F.aggregate(  # noqa: E731
            F.zip_with(sub, c["cv"], lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, p: acc + p,
        )
        best = F.array_max(F.transform(
            cb_lit,
            lambda c: F.struct((-dist(c)).alias("negd"),
                               (-c["cid"]).alias("negc")),
        ))
        return (-best["negc"]).cast("int")

    return e.select("vec_id",
                    F.array(*[_code_expr(m) for m in range(PQ_M)]).alias("codes"))


@register(
    "q_ann_pq",
    f"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
  ms AS (SELECT unnest(range(0, {PQ_M})) AS m),
  cb AS (SELECT c.vec_id AS code_id, ms.m,
                list_slice(c.v, ms.m * {PQ_SUBDIM} + 1, (ms.m + 1) * {PQ_SUBDIM}) AS cv
         FROM e c, ms WHERE c.vec_id < {PQ_CODES}),
  sub AS (SELECT e.vec_id, ms.m,
                 list_slice(e.v, ms.m * {PQ_SUBDIM} + 1, (ms.m + 1) * {PQ_SUBDIM}) AS sv
          FROM e, ms),
  assign AS (
    SELECT vec_id, m, code_id FROM (
      SELECT s.vec_id, s.m, cb.code_id,
             row_number() OVER (PARTITION BY s.vec_id, s.m
                                ORDER BY {_pq_subdist_duck('s.sv', 'cb.cv')}, cb.code_id)
               AS rn
      FROM sub s JOIN cb ON cb.m = s.m) WHERE rn = 1),
  lut AS (
    SELECT q.vec_id AS qid, cb.m, cb.code_id,
           {_pq_subdist_duck('q.sv', 'cb.cv')} AS d
    FROM sub q JOIN cb ON cb.m = q.m WHERE q.vec_id < {N_QUERY_VECS}),
  adc AS (
    SELECT l.qid, a.vec_id,
           round(list_dot_product(list(l.d ORDER BY l.m), {_PQ_M_ONES}), 6) AS adc
    FROM assign a JOIN lut l ON l.m = a.m AND l.code_id = a.code_id
    WHERE a.vec_id <> l.qid
    GROUP BY l.qid, a.vec_id),
  cand AS (
    SELECT qid, vec_id, adc FROM (
      SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rn
      FROM adc) WHERE rn <= {PQ_CANDIDATES}),
  rer AS (
    SELECT c.qid, c.vec_id, c.adc,
           round(list_dot_product(list_transform(range(1, {PQ_M * PQ_SUBDIM + 1}),
                 i -> (eq.v[i] - ev.v[i]) * (eq.v[i] - ev.v[i])),
                 {_PQ_FULL_ONES}), 6) AS l2
    FROM cand c
    JOIN e ev ON ev.vec_id = c.vec_id
    JOIN e eq ON eq.vec_id = c.qid)
  SELECT qid, vec_id, adc, l2, CAST(rank AS BIGINT) AS rank FROM (
    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY l2, vec_id) AS rank
    FROM rer) WHERE rank <= {TOPK}""",
    doc=f"product-quantization ANN (Jégou et al. ADC + rerank): {PQ_M} "
        f"subspaces x {PQ_CODES}-code codebooks (deterministic id-sample), "
        f"every vector encoded map-side to {PQ_M} bytes, queries scanned via "
        f"additive per-subspace distance LUTs, top-{PQ_CANDIDATES} ADC "
        f"survivors reranked by exact L2 to top-{TOPK} — the memory-bound "
        "two-stage ANN scan (8 bytes/vector coarse pass, exact floats only "
        "for candidates), the PQ sibling of q_ann_quantized's SQ8 rerank",
    tags=("similarity", "ann", "pq", "quantize"),
)
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ layout for a 100 TB corpus: codebooks are k*dim-tiny by definition
    (collected once, embedded as literals), so ENCODE is a pure map-side
    projection — zero shuffle of the big table, and the encoded corpus is
    PQ_M bytes/vector (32x smaller than the float rows), which is the whole
    point: the ADC scan streams codes, not vectors. Query LUTs (M x CODES
    doubles per query) are computed driver-side with the same IEEE fold the
    SQL twin uses and broadcast; the scan is LUT-lookup + an in-row fold over
    M, followed by the per-query candidate rank. The exact rerank touches
    only PQ_CANDIDATES rows per query (broadcast of the tiny candidate set
    back onto the vector table — the float column is read for ~50 rows, not
    the corpus), so at 100 TB the scan cost is the 8-byte code stream and
    the rerank cost is O(queries x candidates). Recall@{TOPK} vs exact L2 is
    asserted in test_ivf_recall.py; raw ADC on these id-sample codebooks
    recalls ~0.3 (random synthetic vectors quantize poorly at 16 codes),
    the rerank pass lifts what the candidate set retains — kmeans-trained
    books would share this exact plan shape with better books."""
    _require_query_subset("PQ_CODES", PQ_CODES)
    e = _vecs(spark, sf_dir)
    # ONE collect of the low-id sample feeds both the codebooks
    # (vec_id < PQ_CODES) and the query-vector LUTs (vec_id < N_QUERY_VECS,
    # a subset) — r10, same fold as the IVF keys (guide §2.4, fewer actions)
    low = sorted(
        e.filter(F.col("vec_id") < PQ_CODES).select("vec_id", "v").collect(),
        key=lambda r: r["vec_id"],
    )
    books = pq_codebooks(e, rows=low)
    enc = pq_encode(e, books)

    # driver-side LUTs for the tiny query set, same IEEE fold as the oracle
    qrows = [r for r in low if int(r["vec_id"]) < N_QUERY_VECS]
    probes = []
    for qr in qrows:
        qv = [float(x) for x in qr["v"]]
        lut = []
        for m in range(PQ_M):
            row = []
            for cid, cv in books[m]:
                acc = 0.0
                for i, bx in enumerate(cv):
                    d = qv[m * PQ_SUBDIM + i] - bx
                    acc = acc + d * d
                row.append(acc)
            lut.append(row)
        probes.append((int(qr["vec_id"]), qv, lut))
    probe_df = spark.createDataFrame(
        probes, "qid bigint, qv array<double>, lut array<array<double>>")

    d_arr = F.zip_with("lut", "codes", lambda l, c: F.element_at(l, c + 1))
    scored = (
        enc.crossJoin(F.broadcast(probe_df.select("qid", "lut")))
           .filter(F.col("vec_id") != F.col("qid"))
           .select("qid", "vec_id",
                   F.round(F.aggregate(d_arr, F.lit(0.0), lambda a, x: a + x), 6)
                    .alias("adc"))
    )
    wc = Window.partitionBy("qid").orderBy(F.col("adc").asc(), F.col("vec_id"))
    cand = (scored.withColumn("rn", F.row_number().over(wc))
                  .filter(F.col("rn") <= PQ_CANDIDATES)
                  .drop("rn"))

    # exact rerank: the tiny candidate set broadcasts back onto the vector
    # table — the float column is read for candidate rows only
    sq = F.zip_with("qv", "v", lambda x, y: (x - y) * (x - y))
    rer = (
        e.select("vec_id", "v")
         .join(F.broadcast(cand), "vec_id")
         .join(F.broadcast(probe_df.select("qid", "qv")), "qid")
         .select("qid", "vec_id", "adc",
                 F.round(F.aggregate(sq, F.lit(0.0), lambda a, x: a + x), 6)
                  .alias("l2"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("l2").asc(), F.col("vec_id"))
    return (rer.withColumn("rank", F.row_number().over(w).cast("long"))
               .filter(F.col("rank") <= TOPK))
