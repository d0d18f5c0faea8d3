"""Similarity search over embeddings (north-star): brute-force cosine
top-k baseline + random-hyperplane LSH bucketed ANN as the scale path.

Scale design: brute force is correct at any N but O(N·Q); the LSH
variant buckets vectors by sign-pattern so each query probes ~N/2^P
candidates. Both are expressed as DataFrame plans: the query set is
broadcast (tiny), the corpus side stays partitioned — the join is a
broadcast hash join, no corpus shuffle. The window top-k uses
``row_number`` partitioned by query id, which AQE executes after a
shuffle keyed by query — Q keys, bounded by the (small) query count;
above SMALL_Q queries :func:`cosine_topk` switches to the
:func:`grouped_topk` hash-aggregate form
(``slice(array_sort(collect_list), 1, k)`` per key).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kmeans_mapreduce_spark.functions.distance import cosine_sim, dot_nd, norm_nd
from kmeans_mapreduce_spark.functions.text import ieee_round_pos, ieee_round_signed
from kmeans_mapreduce_spark.barrier import narrow_barrier

NUM_PLANES = 8
DIM = 64
SMALL_Q = 64  # window top-k below this many queries; grouped form above


def plane_signs(num_planes: int = NUM_PLANES, dim: int = DIM) -> list[list[int]]:
    """Deterministic ±1 hyperplane components, derived from md5 so the
    oracle SQL regenerates the identical planes (no RNG state shared
    between engines — the constants ARE the contract)."""
    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            digest = hashlib.md5(f"plane:{p}:{d}".encode()).digest()
            row.append(1 if digest[0] % 2 == 0 else -1)
        planes.append(row)
    return planes


def _as_double_vec(col):
    return F.transform(col, lambda v: v.cast("double"))


def _brute_scored(emb: DataFrame, query_ids: list[int], digits: int) -> DataFrame:
    """(query_id, neighbor_id, cosine): every query × the full corpus,
    query side broadcast — shared by both physical top-k forms."""
    e = emb.select("vec_id", _as_double_vec(F.col("embedding")).alias("v"))
    q = e.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    scored = e.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine_sim(F.col("qv"), F.col("v")), digits).alias("cosine"),
    )
    # zero-norm vectors have NULL cosine (try_divide) and NaN
    # components give NaN cosine: the window form orders NULL/NaN
    # differently from the grouped form's struct array_sort — drop both
    # so the two physical forms stay row-identical (cosine to a zero or
    # NaN vector is undefined anyway)
    return scored.filter(
        F.col("cosine").isNotNull() & ~F.isnan(F.col("cosine"))
    )


def window_topk(scored: DataFrame, k: int) -> DataFrame:
    """Small-Q top-k: ``row_number`` over a window keyed by query — one
    shuffle with Q keys. Fine while Q is small; at large Q the grouped
    form below avoids per-key sort state in the window operator."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def grouped_topk(scored: DataFrame, k: int) -> DataFrame:
    """Large-Q top-k: ``groupBy(query_id)`` +
    ``slice(array_sort(collect_list(struct)), 1, k)`` — a hash
    aggregate instead of a sort-based window. The aggregation combines
    partially map-side (partial lists merge before the exchange), and
    the reducer keeps one array per key rather than sort-buffering the
    whole partition the way the window operator does; posexplode of the
    k-slice re-derives rank. Ordering is identical to the window form:
    ascending (−cosine, neighbor_id) ≡ (cosine DESC, neighbor_id ASC)
    on the rounded value, so both forms return the same rows."""
    top = F.slice(
        F.array_sort(
            F.collect_list(
                F.struct(
                    (-F.col("cosine")).alias("neg"),
                    F.col("neighbor_id").alias("nid"),
                    F.col("cosine").alias("cos"),
                )
            )
        ),
        1,
        k,
    )
    return (
        scored.groupBy("query_id")
        .agg(top.alias("top"))
        .select("query_id", F.posexplode("top").alias("pos", "t"))
        .select(
            "query_id",
            F.col("t.nid").alias("neighbor_id"),
            (F.col("pos") + 1).cast("int").alias("rank"),
            F.col("t.cos").alias("cosine"),
        )
    )


def cosine_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    digits: int = 6,
    form: str = "auto",
) -> DataFrame:
    """Brute-force cosine top-k: every query vs the full corpus.

    Output: (query_id, neighbor_id, rank, cosine). Ranking happens on
    the *rounded* similarity with neighbor_id as tiebreak, so the order
    is reproducible across engines despite float-sum noise.

    ``form``: ``"window"`` / ``"grouped"`` force a physical top-k
    strategy; ``"auto"`` picks the window form for < SMALL_Q queries
    and the grouped hash-aggregate form above that."""
    scored = _brute_scored(emb, query_ids, digits)
    if form == "auto":
        form = "window" if len(query_ids) < SMALL_Q else "grouped"
    if form == "window":
        return window_topk(scored, k)
    if form == "grouped":
        return grouped_topk(scored, k)
    raise ValueError(f"unknown form: {form!r}")


def _fetch_centers_and_queries(
    emb: DataFrame,
    centroid_ids: list[int],
    query_ids: list[int],
    who: str,
) -> tuple[list[tuple[int, list[float]]], dict[int, list[float]]]:
    """ONE driver job fetches centroid AND query rows (both tiny) —
    two separate collects would each scan the corpus. Cell id = rank
    of the centroid's vec_id in sorted order (the shared contract of
    every fixed-row IVF path and its oracle twin)."""
    e0 = emb.select("vec_id", _as_double_vec(F.col("embedding")).alias("v0"))
    wanted = sorted(set(centroid_ids) | set(query_ids))
    fetched = {
        r["vec_id"]: list(r["v0"])
        for r in e0.filter(F.col("vec_id").isin(wanted)).collect()
    }
    missing = [vid for vid in centroid_ids if vid not in fetched]
    if missing:
        raise ValueError(f"{who}: centroid vec_ids not in corpus: {missing}")
    centers = [
        (i, fetched[vid]) for i, vid in enumerate(sorted(centroid_ids))
    ]
    qvecs = {vid: fetched[vid] for vid in query_ids if vid in fetched}
    return centers, qvecs


def ivf_ann_topk(
    emb: DataFrame,
    centroid_ids: list[int],
    query_ids: list[int],
    k: int = 3,
    nprobe: int = 2,
    digits: int = 6,
) -> DataFrame:
    """IVF-style ANN: coarse quantize → probe nprobe cells → exact
    cosine re-rank. The scale path for embedding search (this is the
    same shape FAISS IVF-Flat distributes): cell assignment is the
    k-means engine's own nearest-centroid operator, the candidate join
    is an equi-join on cell id, and each query touches ~nprobe/K of the
    corpus instead of all of it.

    Cells come from FIXED centroid rows (``centroid_ids`` index the
    corpus itself) so the whole pipeline is deterministic and
    SQL-expressible; :func:`ivf_ann_topk_centers` is the same probe
    with an explicit quantizer (e.g. ``kmeans_nd.fit_nd`` centers —
    the trained path). Cell id = rank of the centroid's vec_id in
    sorted order. Assignment uses raw-vector squared distance
    (tie→lowest cell); re-rank uses normalized-dot cosine (rounded,
    neighbor_id tiebreak).
    """
    centers, qvecs = _fetch_centers_and_queries(
        emb, centroid_ids, query_ids, "ivf_ann_topk"
    )
    return ivf_ann_topk_centers(
        emb, centers, query_ids, k=k, nprobe=nprobe, digits=digits,
        _qvecs=qvecs,
    )


def ivf_ann_topk_filtered(
    emb: DataFrame,
    centroid_ids: list[int],
    query_ids: list[int],
    target_label: int,
    k: int = 3,
    nprobe: int = 2,
    digits: int = 6,
) -> DataFrame:
    """FILTERED ANN: top-k nearest neighbors whose ``label`` equals
    ``target_label`` — vector-DB "filtered search" (every production
    retrieval API takes a metadata predicate next to the query vector).

    The label rides IN the index rows (``build_ivf_index(carry_cols=
    ("label",))`` — the layout real vector stores use: filterable
    attributes beside the vector so predicates prune candidates BEFORE
    scoring, never a join back to the corpus), and the filter is
    applied to the index relation ahead of the probe join, so
    non-matching vectors are dropped pre-candidate, pre-score,
    pre-top-k. Probing is otherwise :func:`probe_ivf_index` verbatim.

    Recall caveat (inherent to post-filtered IVF): a query probes its
    nprobe nearest CELLS, and matching vectors outside them are missed
    — selective filters want a larger nprobe, the standard vector-DB
    dial.
    """
    centers, qvecs = _fetch_centers_and_queries(
        emb, centroid_ids, query_ids, "ivf_ann_topk_filtered"
    )
    idx = build_ivf_index(emb, centers, carry_cols=("label",))
    filtered = idx.filter(F.col("label") == int(target_label)).select(
        "vec_id", "cell", "nv"
    )
    return probe_ivf_index(
        filtered.transform(narrow_barrier), centers, qvecs,
        k=k, nprobe=nprobe, digits=digits,
    )


def ivf_ann_topk_centers(
    emb: DataFrame,
    centers: list[tuple[int, list[float]]],
    query_ids: list[int],
    k: int = 3,
    nprobe: int = 2,
    digits: int = 6,
    _qvecs: dict[int, list[float]] | None = None,
) -> DataFrame:
    """IVF probe with an EXPLICIT coarse quantizer: ``centers`` is the
    driver-held K-row (cell_id, vector) list — fixed corpus rows via
    :func:`ivf_ann_topk`, or ``kmeans_nd.fit_nd`` output for a trained
    quantizer (the FAISS ``train()``-then-``add()`` shape; with fixed
    init + ``round_digits`` the training is deterministic, so even the
    trained index replays under the DuckDB gate). Index build, probe
    and re-rank are identical either way.

    ``_qvecs``: pre-fetched query vectors (an internal fast path so
    :func:`ivf_ann_topk` can fetch centroids and queries in one job).
    """
    e0 = emb.select("vec_id", _as_double_vec(F.col("embedding")).alias("v0"))
    centers = [(int(cid), [float(x) for x in v]) for cid, v in centers]
    _check_cell_ids(centers, "ivf_ann_topk_centers")
    if _qvecs is None:
        _qvecs = {
            r["vec_id"]: list(r["v0"])
            for r in e0.filter(
                F.col("vec_id").isin(sorted(set(query_ids)))
            ).collect()
        }

    # INDEX BUILD BARRIER: localCheckpoint materializes (vec_id, cell,
    # nv) and truncates lineage — the probe joins below see a plain
    # scan instead of re-running the build (and no derived-predicate
    # pushdown of the build tree). This mirrors real IVF: the index is
    # BUILT once and persisted (at cluster scale:
    # :func:`persist_ivf_index` — parquet bucketed by cell), then
    # queried via :func:`probe_ivf_index`.
    df = build_ivf_index(emb, centers).transform(narrow_barrier)
    return probe_ivf_index(
        df, centers, _qvecs, k=k, nprobe=nprobe, digits=digits
    )


def build_ivf_index(
    emb: DataFrame,
    centers: list[tuple[int, list[float]]],
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """ONE corpus pass builds the IVF index rows ``(vec_id, cell,
    nv)``: cell (argmin raw-d2 over ``centers``, tie→lowest cell) AND
    the normalized vector, vectorized per Arrow batch with
    DIM-ORDER-PRESERVING numpy folds — every accumulation runs in
    index order, so d2, the argmin, and nv are bit-identical to the
    Catalyst ``sq_dist_nd``/``dot_nd`` sequential folds the oracle
    mirrors (interpreted HOFs cost ~64 per-element interpreter hops
    per row; this is the same math at numpy speed).

    ``carry_cols``: extra metadata columns stored ALONGSIDE the index
    rows (the vector-DB layout for filtered search — predicates prune
    candidates before any scoring instead of joining back to the
    corpus). See :func:`ivf_ann_topk_filtered`."""
    import numpy as np
    import pandas as pd

    centers = [(int(cid), [float(x) for x in v]) for cid, v in centers]
    _check_cell_ids(centers, "build_ivf_index")
    carry = list(carry_cols or ())
    e0 = emb.select(
        "vec_id", _as_double_vec(F.col("embedding")).alias("v0"), *carry
    )
    C = np.array([cvec for _, cvec in centers], dtype=np.float64)
    n_cells, dim = C.shape

    def build_index(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["v0"].to_numpy()).astype(np.float64)
            D = np.zeros((len(V), n_cells))
            for d in range(dim):
                diff = V[:, d][:, None] - C[:, d][None, :]
                D += diff * diff
            cell = D.argmin(axis=1)  # first min → lowest cell on ties
            acc = np.zeros(len(V))
            for d in range(dim):
                acc += V[:, d] * V[:, d]
            with np.errstate(divide="ignore", invalid="ignore"):
                nv = np.where(
                    acc[:, None] > 0.0, V / np.sqrt(acc)[:, None], 0.0
                )
            out = {
                "vec_id": pdf["vec_id"],
                "cell": cell.astype("int32"),
                "nv": [r.tolist() for r in nv],
            }
            for c in carry:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    # schema in CARRY-TUPLE order (not emb.schema field order): the
    # emitted frame appends carry columns in carry order, and the two
    # must agree positionally — trusting Arrow assign-by-name would
    # make out-of-schema-order carries silently order-dependent
    fields = {f.name: f for f in emb.schema}
    missing = [c for c in carry if c not in fields]
    if missing:
        raise ValueError(f"build_ivf_index: carry_cols not in schema: {missing}")
    carry_schema = "".join(
        f", {c} {fields[c].dataType.simpleString()}" for c in carry
    )
    return e0.mapInPandas(
        build_index, "vec_id LONG, cell INT, nv ARRAY<DOUBLE>" + carry_schema
    )


IVF_INDEX_BUCKETS = 16


def persist_ivf_index(
    emb: DataFrame,
    centers: list[tuple[int, list[float]]],
    table: str,
    buckets: int = IVF_INDEX_BUCKETS,
    path: str | None = None,
) -> None:
    """Materialize the IVF index as a parquet table BUCKETED by cell —
    the "built once, queried many" production shape: the one corpus
    pass of :func:`build_ivf_index` is paid at write time, and every
    later :func:`probe_ivf_index` over ``spark.table(table)`` reads
    only the probed cells' buckets (bucket pruning on the pushed
    ``cell IN (...)`` filter — the scan shows ``SelectedBucketsCount
    ≤ nprobe·Q of N``) with NO exchange on the index side
    (tests/test_plans.py asserts both)."""
    from ..sources.loaders import write_bucketed

    write_bucketed(build_ivf_index(emb, centers), table, "cell", buckets,
                   path=path)


def probe_ivf_index(
    index: DataFrame,
    centers: list[tuple[int, list[float]]],
    qvecs: dict[int, list[float]],
    k: int = 3,
    nprobe: int = 2,
    digits: int = 6,
) -> DataFrame:
    """Query an EXISTING IVF index (``(vec_id, cell, nv)`` rows from
    :func:`build_ivf_index`, in-memory or read back from
    :func:`persist_ivf_index`'s bucketed table): nprobe cells per
    query, broadcast probe join, exact normalized-dot re-rank.

    ``qvecs`` carries the RAW query vectors (production queries
    arrive from outside the index). The probed-cell set is known
    driver-side, so the scan is pre-filtered with ``cell IN
    (probed)`` — on a bucketed read-back that prunes whole buckets
    before any I/O; semantically a no-op (the join admits only
    probed cells anyway)."""
    import numpy as np
    import pandas as pd

    spark = index.sparkSession
    centers = [(int(cid), [float(x) for x in v]) for cid, v in centers]
    _check_cell_ids(centers, "probe_ivf_index")
    dim = len(centers[0][1])

    # probe list per query: Q×K distances on the driver (exact same
    # sequential float op order as the distributed/oracle form — Q and
    # K are both tiny, this is metadata math, not data math)
    probe_rows = []
    qn_rows = []
    for qid in sorted(qvecs):
        qv = qvecs[qid]
        ranked = sorted(
            (sum((a - b) * (a - b) for a, b in zip(qv, cvec)), cid)
            for cid, cvec in centers
        )
        probe_rows += [(qid, cid) for _, cid in ranked[:nprobe]]
        # normalized query vector, same sequential op order as the
        # index's nv — shipping it as a literal keeps the build's
        # (large) expression tree out of the plan a second time
        nrm = math.sqrt(sum(x * x for x in qv))
        if nrm == 0.0:
            raise ValueError(f"zero-norm query vector: vec_id {qid}")
        qn_rows.append((qid, [x / nrm for x in qv]))
    probes = spark.createDataFrame(probe_rows, "query_id LONG, cell INT")
    qn_map = {qid: np.array(v, dtype=np.float64) for qid, v in qn_rows}
    probed_cells = sorted({cid for _, cid in probe_rows})
    cand = (
        index.filter(F.col("cell").isin(probed_cells))
        .join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
    )

    # re-rank: normalized dot per candidate, numpy per-dim fold (same
    # index order as `dot_nd`/list_sum → bit-identical doubles); query
    # vectors ride in the closure — no second broadcast join, and no
    # per-row interpreted HOF over dim elements
    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["nv"].to_numpy()).astype(np.float64)
            Q = np.stack([qn_map[q] for q in pdf["query_id"]])
            dots = np.zeros(len(V))
            for d in range(dim):
                dots += Q[:, d] * V[:, d]
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf["vec_id"],
                    "dot": dots,
                }
            )

    scored = cand.select("query_id", "vec_id", "nv").mapInPandas(
        score, "query_id LONG, neighbor_id LONG, dot DOUBLE"
    ).select(
        "query_id",
        "neighbor_id",
        F.round(F.col("dot"), digits).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def lsh_bucket(vec_col, planes: list[list[int]]):
    """Sign-pattern bucket id: bit p = 1 iff dot(vec, plane_p) > 0."""
    bucket = F.lit(0).cast("long")
    for p, signs in enumerate(planes):
        proj = dot_nd(vec_col, F.array(*[F.lit(float(s)) for s in signs]))
        bucket = bucket + F.when(proj > 0, F.lit(2 ** p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def lsh_ann_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 3,
    num_planes: int = NUM_PLANES,
    digits: int = 6,
) -> DataFrame:
    """ANN: candidates = same LSH bucket as the query, then exact
    cosine top-k within candidates. Bucketing is a narrow expression;
    the candidate join is an equi-join on bucket (hash partitioned,
    ~N/2^P per bucket). Recall < 1 by design — that's the ANN trade."""
    planes = plane_signs(num_planes)
    e = emb.select(
        "vec_id",
        _as_double_vec(F.col("embedding")).alias("v"),
    ).withColumn("bucket", lsh_bucket(F.col("v"), planes))
    q = e.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("bucket").alias("qbucket"),
    )
    cands = e.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("query_id")),
    )
    scored = cands.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine_sim(F.col("qv"), F.col("v")), digits).alias("cosine"),
    ).filter(
        # same undefined-cosine contract as _brute_scored: a zero-norm
        # or NaN bucket-mate must not occupy a top-k slot
        F.col("cosine").isNotNull() & ~F.isnan(F.col("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def ivf_pq_ann_topk(
    emb: DataFrame,
    centroid_ids: list[int],
    codebook_ids: list[int],
    query_ids: list[int],
    k: int = 3,
    nprobe: int = 2,
    m: int = 8,
    digits: int = 6,
) -> DataFrame:
    """IVF-PQ ANN — the memory-bound scale path for 100 TB embedding
    search (FAISS IVFPQ shape): coarse-quantize to IVF cells, then
    PRODUCT-QUANTIZE each normalized vector into ``m`` subspace codes
    so the probe scan touches ``m`` bytes per vector instead of
    ``dim`` floats (64× smaller candidate payload at dim=64/m=8 —
    at cluster scale the codes table fits in memory where raw vectors
    cannot). Queries score candidates with an ADC lookup table:
    approx_cosine = Σ_m dot(q_sub[m], codebook[m][code[m]]).

    Determinism contract (same as :func:`ivf_ann_topk`): coarse
    centers AND codebook entries are FIXED corpus rows, so the whole
    index is reproducible and SQL-expressible; codebook m is the m-th
    subvector of the normalized codebook rows (one shared codebook
    across subspaces, indexed per-subspace). Quantization argmins
    tie-break to the lowest code; every float fold runs in ascending
    index order on both engines (numpy per-dim accumulation ≡ DuckDB
    ``list_sum(list_transform(...))``).

    Scale shape: ONE corpus pass builds (vec_id, cell, codes) —
    materialized via localCheckpoint exactly like the IVF index (at
    cluster scale: parquet bucketed by cell); probing is a broadcast
    join on cell; scoring reads only the m int codes per candidate,
    never the vectors. Exact re-rank of the ADC top-k' (k' > k) is the
    standard refinement step — omitted here to keep the approximate
    scores themselves under the oracle gate.
    """
    import numpy as np

    e0 = emb.select("vec_id", _as_double_vec(F.col("embedding")).alias("v0"))
    wanted = sorted(set(centroid_ids) | set(codebook_ids) | set(query_ids))
    fetched = {
        r["vec_id"]: list(r["v0"])
        for r in e0.filter(F.col("vec_id").isin(wanted)).collect()
    }
    missing = [
        vid
        for vid in sorted(set(centroid_ids) | set(codebook_ids))
        if vid not in fetched
    ]
    if missing:
        raise ValueError(
            f"ivf_pq: centroid/codebook vec_ids not in corpus: {missing}"
        )
    centers = [(i, fetched[vid]) for i, vid in enumerate(sorted(centroid_ids))]
    dim = len(centers[0][1])
    if m <= 0 or dim % m != 0:
        raise ValueError(
            f"ivf_pq: dim ({dim}) must divide evenly into m={m} subspaces"
            " — a remainder would silently drop trailing dimensions"
        )
    sub = dim // m
    CB = np.array(
        [_norm_py(fetched[vid]) for vid in sorted(codebook_ids)],
        dtype=np.float64,
    )
    # the fixed path's SHARED codebook, viewed per-subspace — the same
    # (m, n_codes, sub) contract the trained path fills with fit output
    codebooks = [CB[:, mi * sub : (mi + 1) * sub] for mi in range(m)]
    qvecs = {vid: fetched[vid] for vid in query_ids if vid in fetched}
    return ivf_pq_ann_topk_quantizers(
        emb, centers, codebooks, query_ids,
        k=k, nprobe=nprobe, digits=digits, _qvecs=qvecs,
    )


def _norm_py(v: list[float]) -> list[float]:
    """Driver-side normalize, sequential fold (same op order as
    ``norm_nd``/the oracle's ``list_sum`` replay)."""
    nrm = math.sqrt(sum(x * x for x in v))
    if nrm == 0.0:
        raise ValueError("zero-norm vector in codebook/query set")
    return [x / nrm for x in v]


def _check_cell_ids(centers: list[tuple[int, list[float]]], where: str) -> None:
    """Cell assignment below is ``argmin`` over the centers LIST — the
    position, not the caller's cid — while probe rows carry the cid.
    The two agree only when cids are exactly 0..K-1 in list order;
    anything else would silently produce wrong/empty candidate joins,
    so reject it loudly."""
    cids = [cid for cid, _ in centers]
    if cids != list(range(len(centers))):
        raise ValueError(
            f"{where}: centers must carry cell ids 0..K-1 in list order "
            f"(got {cids[:8]}{'...' if len(cids) > 8 else ''}); renumber "
            "the quantizer output (cid = rank) before calling"
        )


def _training_partitions(df: DataFrame) -> DataFrame:
    """Partitions for :func:`fit_pq_codebooks`' loop, by partition
    count: capped at 2× parallelism above 8× (per-task launch and Arrow
    round trip multiply by every iteration), raised to max(2,
    parallelism/4) below that. The fits' row balance
    (``kmeans.normalize_partitions``: a count job, then a hash
    rebalance over every core) made this loop slower on the sf0.1
    corpus (2000 vectors in one partition, 4 cores, medians of 9 warm
    trainings: flat 1.27 → 1.70 s, residual 1.23 → 1.71 s; left as one
    partition 1.57 / 1.56 s), so it keeps this rule."""
    p = df.sparkSession.sparkContext.defaultParallelism
    n = df.rdd.getNumPartitions()
    if n > 8 * p:
        return df.repartition(2 * p)
    if n < max(2, p // 4):
        return df.repartition(max(2, p // 4))
    return df


def fit_pq_codebooks(
    emb: DataFrame,
    codebook_ids: list[int],
    m: int = 8,
    iters: int = 2,
    round_digits: int = 6,
    centers: list[tuple[int, list[float]]] | None = None,
) -> list[list[list[float]]]:
    """TRAIN per-subspace PQ codebooks — the real FAISS PQ ``train()``
    — as ``m`` independent k-means fits over the m-th subvectors of
    the NORMALIZED corpus, under the same fit_fixed determinism
    discipline as the trained IVF coarse quantizer: init = the
    normalized ``codebook_ids`` rows' subvectors (code = rank in
    sorted vec_id order), exactly ``iters`` Lloyd iterations,
    ``tol=0``, per-iteration HALF_UP rounding to ``round_digits`` —
    so the DuckDB twin re-derives the identical codebooks by
    unrolling the loop per subspace (empty codes keep their previous
    entry, the ``fit_nd`` policy).

    Returns the ``codebooks`` argument of
    :func:`ivf_pq_ann_topk_quantizers`: m arrays of (n_codes × sub).

    Scale shape (round 7 — fused): ONE ``mapInPandas`` corpus pass per
    Lloyd iteration emits suffstats for ALL m subspaces side by side
    (``(subspace, code, n, vsum)``, ≤ m·n_codes rows per partition) —
    the same fusion ``lloyd_step_arrow`` applies across K, applied
    across subspaces. Round 6 ran m sequential ``fit_nd`` loops =
    m·iters corpus passes where ``iters`` suffice; at 100 TB that is
    m× the necessary training I/O. Training cost is O(iters · corpus)
    and independent of query volume — train once, persist, serve.
    Output is value-identical to the sequential per-subspace form
    (same rows, same batch/partition accumulation order per subspace
    — asserted by ``tests/test_extensions.py``'s fused-vs-sequential
    equivalence test), so the DuckDB twin is unchanged.

    ``centers``: train over RESIDUALS instead — each vector
    contributes ``nv − cn[cell]`` (cell = raw-d2 argmin vs ``centers``,
    cn = the normalized center), and the init is the codebook rows'
    OWN residual subvectors — the trained half of FAISS IVFPQ proper
    (PQ ``train()`` runs on the residual table). Same fused one-pass
    scan; the cell assignment and residual ride inside it.
    """
    import numpy as np
    import pandas as pd

    from .kmeans import round_half_up

    e0 = emb.select("vec_id", _as_double_vec(F.col("embedding")).alias("v0"))
    ids = sorted(set(codebook_ids))
    fetched = {
        r["vec_id"]: list(r["v0"])
        for r in e0.filter(F.col("vec_id").isin(ids)).collect()
    }
    missing = [vid for vid in ids if vid not in fetched]
    if missing:
        raise ValueError(f"fit_pq_codebooks: vec_ids not in corpus: {missing}")
    dim = len(fetched[ids[0]])
    if m <= 0 or dim % m != 0:
        raise ValueError(f"fit_pq_codebooks: dim ({dim}) not divisible by m={m}")
    sub = dim // m
    n_codes = len(ids)
    C = CN = None
    if centers is not None:
        centers = [(int(cid), [float(x) for x in v]) for cid, v in centers]
        _check_cell_ids(centers, "fit_pq_codebooks")
        C = np.array([cvec for _, cvec in centers], dtype=np.float64)
        CN = np.array(
            [_norm_py(cvec) for _, cvec in centers], dtype=np.float64
        )
        init_rows = []
        for vid in ids:
            v0 = fetched[vid]
            _, cell = min(
                (sum((a - b) * (a - b) for a, b in zip(v0, cvec)), cid)
                for cid, cvec in centers
            )
            nv = _norm_py(v0)
            init_rows.append([x - c for x, c in zip(nv, CN[cell].tolist())])
    else:
        init_rows = [_norm_py(fetched[vid]) for vid in ids]
    # nrm > 0: a zero vector has no direction to train on, and x/0
    # would emit NaN subvectors that silently poison every per-subspace
    # mean (numpy argmin over a NaN row returns 0) — the sibling build
    # paths guard this with nv=0 / a filter; the DuckDB twin's training
    # CTE applies the identical WHERE
    e1 = e0.select("vec_id", "v0", norm_nd(F.col("v0")).alias("nrm"))
    # feed RAW v0 — normalization (and, in residual mode, cell
    # assignment + residual) derive inside the Arrow pass with the
    # same per-dim ascending accumulation as build_pq_index, so the
    # values are bit-identical to the Spark-expression x/nrm form
    # while skipping its interpreted-HOF cost (measured: the
    # F.transform normalize was ~5 s of the 6.5 s flat training wall
    # at sf0.1; numpy-side it is ~0)
    e = e1.filter(F.col("nrm") > 0).select(F.col("v0").alias("nv"))
    pts = _training_partitions(e.select("nv")).cache()
    try:
        # books[mi][code] — init: the codebook rows' mi-th subvectors
        books = [
            [row[mi * sub : (mi + 1) * sub] for row in init_rows]
            for mi in range(m)
        ]
        for _ in range(iters):
            CB = np.array(books, dtype=np.float64)  # m × n_codes × sub

            def suffstats(batches, _CB=CB, _C=C, _CN=CN):
                sq_c = (_CB ** 2).sum(axis=2)  # m × n_codes
                n_acc = np.zeros((m, n_codes), dtype=np.int64)
                vsum_acc = np.zeros((m, n_codes, sub))
                seen = False
                for pdf in batches:
                    if not len(pdf):
                        continue
                    seen = True
                    x = np.stack(pdf["nv"].to_numpy())  # N × dim, RAW v0
                    if _C is not None:
                        # residual mode: assign cells on the raw
                        # vectors first (same fold as build_pq_index)
                        D = np.zeros((len(x), _C.shape[0]))
                        for d in range(dim):
                            diff = x[:, d][:, None] - _C[:, d][None, :]
                            D += diff * diff
                        cell = D.argmin(axis=1)
                    acc_n = np.zeros(len(x))
                    for d in range(dim):
                        acc_n += x[:, d] * x[:, d]
                    x = x / np.sqrt(acc_n)[:, None]
                    if _C is not None:
                        x = x - _CN[cell]
                    for mi in range(m):
                        xm = np.ascontiguousarray(
                            x[:, mi * sub : (mi + 1) * sub]
                        )
                        # argmin_c |x|² − 2x·c + |c|² (|x|² const per row)
                        scores = -2.0 * (xm @ _CB[mi].T) + sq_c[mi]
                        code = scores.argmin(axis=1)
                        n_acc[mi] += np.bincount(code, minlength=n_codes)
                        np.add.at(vsum_acc[mi], code, xm)
                if seen:
                    mi_ix, code_ix = np.nonzero(n_acc > 0)
                    yield pd.DataFrame(
                        {
                            "mi": mi_ix.astype(np.int32),
                            "code": code_ix.astype(np.int32),
                            "n": n_acc[mi_ix, code_ix],
                            "vsum": [
                                v.tolist() for v in vsum_acc[mi_ix, code_ix]
                            ],
                        }
                    )

            partials = pts.mapInPandas(
                suffstats,
                schema="mi INT, code INT, n LONG, vsum ARRAY<DOUBLE>",
            )
            sums: dict[tuple[int, int], np.ndarray] = {}
            counts: dict[tuple[int, int], int] = {}
            # accumulate in collect() row order (partition order) — the
            # same float-summation order as the per-subspace fit_nd
            # reduce, so results stay value-identical to the sequential
            # form the DuckDB twin replays
            for r in partials.collect():
                key = (r["mi"], r["code"])
                sums[key] = sums.get(key, np.zeros(sub)) + np.array(r["vsum"])
                counts[key] = counts.get(key, 0) + r["n"]
            for mi in range(m):
                books[mi] = [
                    [
                        round_half_up(x, round_digits)
                        for x in (sums[(mi, c)] / counts[(mi, c)]).tolist()
                    ]
                    if (mi, c) in sums
                    # empty codes keep their previous entry (fit_nd /
                    # sequential-kmeans.py:46-48 policy)
                    else books[mi][c]
                    for c in range(n_codes)
                ]
        return books
    finally:
        pts.unpersist()


def ivf_pq_ann_topk_quantizers(
    emb: DataFrame,
    centers: list[tuple[int, list[float]]],
    codebooks,  # list of m (n_codes × sub) arrays/lists
    query_ids: list[int],
    k: int = 3,
    nprobe: int = 2,
    digits: int = 6,
    _qvecs: dict[int, list[float]] | None = None,
) -> DataFrame:
    """IVF-PQ probe with EXPLICIT quantizers: ``centers`` is the
    coarse (cell, vector) list and ``codebooks`` the per-subspace
    code vectors — fixed corpus rows via :func:`ivf_pq_ann_topk`
    (one shared codebook sliced per subspace), or
    :func:`fit_pq_codebooks` output for trained per-subspace
    codebooks (the real FAISS PQ ``train()``). Index build, probe,
    ADC scoring identical either way."""
    import numpy as np

    # validation (cell ids, dim % m, codebook shapes) lives in
    # build_pq_index — one enforcement point, invoked right below
    e0 = emb.select("vec_id", _as_double_vec(F.col("embedding")).alias("v0"))
    centers = [(int(cid), [float(x) for x in v]) for cid, v in centers]
    CBm = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    if _qvecs is None:
        _qvecs = {
            r["vec_id"]: list(r["v0"])
            for r in e0.filter(
                F.col("vec_id").isin(sorted(set(query_ids)))
            ).collect()
        }

    df = build_pq_index(emb, centers, CBm).transform(narrow_barrier)
    return probe_pq_index(
        df, centers, CBm, _qvecs, k=k, nprobe=nprobe, digits=digits
    )


def ivf_pq_residual_ann_topk(
    emb: DataFrame,
    centers: list[tuple[int, list[float]]],
    codebook_ids: list[int],
    query_ids: list[int],
    k: int = 3,
    nprobe: int = 2,
    m: int = 8,
    digits: int = 6,
) -> DataFrame:
    """FAISS-faithful IVFPQ: PQ over RESIDUALS. Each vector is encoded
    as (cell, codes of ``nv − cn[cell]``) where cn is the
    L2-normalized coarse center — the codebook describes the small
    within-cell displacement instead of the whole vector, which is
    why production IVFPQ recalls better than flat PQ at the same code
    budget (Jégou et al., "Product Quantization for Nearest Neighbor
    Search", §IV-A: "it is preferable to encode the residual vector").
    Codebook entries are the ``codebook_ids`` rows' OWN residuals
    (code = rank in sorted vec_id order — the fixed-row determinism
    contract of ivf_pq_ann_topk, applied to residuals; a trained
    analog would run fit_pq_codebooks over the residual table). ADC
    score = ``dot(qn, cn[cell]) + Σ_m lut[m, code]``; the coarse bias
    is Q×nprobe driver metadata math.

    Scale shape: identical to the flat-PQ path — one build pass, m
    ints per vector, broadcast probe join, per-query LUTs driver-side.
    """
    e0 = emb.select("vec_id", _as_double_vec(F.col("embedding")).alias("v0"))
    centers = [(int(cid), [float(x) for x in v]) for cid, v in centers]
    _check_cell_ids(centers, "ivf_pq_residual_ann_topk")
    cb_ids = sorted(set(codebook_ids))
    want = sorted(set(cb_ids) | set(query_ids))
    fetched = {
        r["vec_id"]: list(r["v0"])
        for r in e0.filter(F.col("vec_id").isin(want)).collect()
    }
    missing = [vid for vid in want if vid not in fetched]
    if missing:
        raise ValueError(
            f"ivf_pq_residual_ann_topk: vec_ids not in corpus: {missing}"
        )
    dim = len(centers[0][1])
    if m <= 0 or dim % m != 0:
        raise ValueError(
            f"ivf_pq_residual_ann_topk: dim ({dim}) must divide into m={m}"
        )
    sub = dim // m
    cn = [_norm_py(cvec) for _, cvec in centers]
    # codebook rows' residuals: cell by the same raw-d2 argmin
    # (tie→lowest cell) the index build uses, residual vs the
    # NORMALIZED center — driver metadata math over |codebook_ids| rows
    books_rows = []
    for vid in cb_ids:
        v0 = fetched[vid]
        _, cell = min(
            (sum((a - b) * (a - b) for a, b in zip(v0, cvec)), cid)
            for cid, cvec in centers
        )
        nv = _norm_py(v0)
        books_rows.append([x - c for x, c in zip(nv, cn[cell])])
    codebooks = [
        [row[mi * sub : (mi + 1) * sub] for row in books_rows]
        for mi in range(m)
    ]
    qvecs = {qid: fetched[qid] for qid in sorted(set(query_ids))}
    return ivf_pq_residual_ann_topk_quantizers(
        emb, centers, codebooks, query_ids,
        k=k, nprobe=nprobe, digits=digits, _qvecs=qvecs,
    )


def ivf_pq_residual_ann_topk_quantizers(
    emb: DataFrame,
    centers: list[tuple[int, list[float]]],
    codebooks,
    query_ids: list[int],
    k: int = 3,
    nprobe: int = 2,
    digits: int = 6,
    _qvecs: dict[int, list[float]] | None = None,
) -> DataFrame:
    """Residual IVF-PQ probe with EXPLICIT codebooks — fixed residual
    rows via :func:`ivf_pq_residual_ann_topk`, or
    ``fit_pq_codebooks(centers=...)`` output for codebooks TRAINED on
    the residual table (FAISS IVFPQ's actual ``train()``). Build,
    probe, ADC identical either way (``residual=True`` mode)."""
    e0 = emb.select("vec_id", _as_double_vec(F.col("embedding")).alias("v0"))
    if _qvecs is None:
        _qvecs = {
            r["vec_id"]: list(r["v0"])
            for r in e0.filter(
                F.col("vec_id").isin(sorted(set(query_ids)))
            ).collect()
        }
    idx = build_pq_index(emb, centers, codebooks, residual=True)
    idx = idx.transform(narrow_barrier)
    return probe_pq_index(
        idx, centers, codebooks, _qvecs,
        k=k, nprobe=nprobe, digits=digits, residual=True,
    )


def build_pq_index(
    emb: DataFrame,
    centers: list[tuple[int, list[float]]],
    codebooks,
    residual: bool = False,
) -> DataFrame:
    """ONE corpus pass builds the IVF-PQ index rows ``(vec_id, cell,
    codes)``: coarse cell (argmin raw-d2, tie→lowest cell) plus the
    ``m`` per-subspace codes of the normalized vector (argmin sub-d2
    over the codebook, tie→lowest code) — ``m`` ints per vector
    instead of ``dim`` floats, the memory-bound payload that makes
    100 TB ANN scans feasible. All numpy folds run in ascending index
    order (≡ the oracle's ``list_sum`` replays).

    ``residual=True`` encodes the RESIDUAL ``nv − cn[cell]`` (cn = the
    L2-normalized coarse center) instead of ``nv`` — FAISS's actual
    IVFPQ layout, where the codebook describes the (much smaller)
    within-cell displacement rather than the whole vector; codebooks
    must then hold residual sub-vectors and the probe must add the
    per-(query, cell) ``dot(qn, cn)`` bias back (probe_pq_index
    ``residual=True``)."""
    import numpy as np
    import pandas as pd

    centers = [(int(cid), [float(x) for x in v]) for cid, v in centers]
    _check_cell_ids(centers, "build_pq_index")
    e0 = emb.select("vec_id", _as_double_vec(F.col("embedding")).alias("v0"))
    C = np.array([cvec for _, cvec in centers], dtype=np.float64)
    n_cells, dim = C.shape
    CN = (
        np.array([_norm_py(cvec) for _, cvec in centers], dtype=np.float64)
        if residual
        else None
    )
    CBm = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    m = len(CBm)
    if m == 0 or dim % m != 0:
        raise ValueError(f"build_pq_index: dim ({dim}) not divisible into m={m}")
    sub = dim // m
    n_codes = CBm[0].shape[0]
    for mi, cb in enumerate(CBm):
        if cb.shape != (n_codes, sub):
            raise ValueError(
                f"build_pq_index: codebook {mi} shape {cb.shape} != "
                f"({n_codes}, {sub})"
            )

    def build_index(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["v0"].to_numpy()).astype(np.float64)
            D = np.zeros((len(V), n_cells))
            for d in range(dim):
                diff = V[:, d][:, None] - C[:, d][None, :]
                D += diff * diff
            cell = D.argmin(axis=1)
            acc = np.zeros(len(V))
            for d in range(dim):
                acc += V[:, d] * V[:, d]
            with np.errstate(divide="ignore", invalid="ignore"):
                nv = np.where(
                    acc[:, None] > 0.0, V / np.sqrt(acc)[:, None], 0.0
                )
            enc = nv - CN[cell] if residual else nv
            codes = np.zeros((len(V), m), dtype=np.int32)
            for mi in range(m):
                Dm = np.zeros((len(V), n_codes))
                for d in range(sub):
                    diff = (
                        enc[:, mi * sub + d][:, None] - CBm[mi][:, d][None, :]
                    )
                    Dm += diff * diff
                codes[:, mi] = Dm.argmin(axis=1)  # first min → lowest code
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cell": cell.astype("int32"),
                    "codes": [r.tolist() for r in codes],
                }
            )

    return e0.mapInPandas(
        build_index, "vec_id LONG, cell INT, codes ARRAY<INT>"
    )


def persist_pq_index(
    emb: DataFrame,
    centers: list[tuple[int, list[float]]],
    codebooks,
    table: str,
    buckets: int = IVF_INDEX_BUCKETS,
    path: str | None = None,
    residual: bool = False,
) -> None:
    """Materialize the IVF-PQ codes table BUCKETED by cell — the same
    built-once-queried-many shape as :func:`persist_ivf_index`, with
    the PQ payload (m ints/vector): later probes over
    ``spark.table(table)`` read only the probed cells' buckets, and
    the scanned bytes per candidate are the codes, never vectors.
    ``residual=True`` persists residual-encoded codes (probe with
    ``probe_pq_index(residual=True)`` and the same centers/codebooks)."""
    from ..sources.loaders import write_bucketed

    write_bucketed(
        build_pq_index(emb, centers, codebooks, residual=residual),
        table, "cell", buckets, path=path,
    )


def probe_pq_index(
    index: DataFrame,
    centers: list[tuple[int, list[float]]],
    codebooks,
    qvecs: dict[int, list[float]],
    k: int = 3,
    nprobe: int = 2,
    digits: int = 6,
    residual: bool = False,
) -> DataFrame:
    """ADC-score an EXISTING IVF-PQ codes table (from
    :func:`build_pq_index`, in-memory or read back from
    :func:`persist_pq_index`): per-query lookup tables are driver
    metadata math, candidates ride a broadcast probe join, and the
    scan is pre-filtered to the probed cells (bucket pruning on a
    persisted index).

    ``residual=True`` scores a residual-encoded index: the ADC score
    becomes ``dot(qn, cn[cell]) + Σ_m lut[m, code]`` — the
    per-(query, cell) coarse bias is Q×nprobe driver metadata math
    added after the ascending-m fold (IEEE addition is commutative,
    so ``bias + fold ≡ fold + bias`` matches the twin exactly)."""
    import numpy as np
    import pandas as pd

    spark = index.sparkSession
    centers = [(int(cid), [float(x) for x in v]) for cid, v in centers]
    _check_cell_ids(centers, "probe_pq_index")
    CBm = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    m = len(CBm)
    n_codes = CBm[0].shape[0]
    sub = CBm[0].shape[1]
    cn = [_norm_py(cvec) for _, cvec in centers] if residual else None

    # probe list + per-query ADC lookup tables (driver metadata math:
    # Q×K coarse distances, Q×m×n_codes sub-dots — same sequential op
    # order as the oracle's SQL folds)
    probe_rows = []
    luts = {}
    biases: dict[tuple[int, int], float] = {}
    for qid in sorted(qvecs):
        qv = qvecs[qid]
        ranked = sorted(
            (sum((a - b) * (a - b) for a, b in zip(qv, cvec)), cid)
            for cid, cvec in centers
        )
        probe_rows += [(qid, cid) for _, cid in ranked[:nprobe]]
        qn = _norm_py(qv)
        lut = np.zeros((m, n_codes))
        for mi in range(m):
            for c in range(n_codes):
                s = 0.0
                for d in range(sub):
                    s += qn[mi * sub + d] * CBm[mi][c][d]
                lut[mi, c] = s
        luts[qid] = lut
        if residual:
            for _, cid in ranked[:nprobe]:
                s = 0.0
                for d in range(len(qn)):  # ascending-d ≡ list_sum fold
                    s += qn[d] * cn[cid][d]
                biases[(qid, cid)] = s
    probes = spark.createDataFrame(probe_rows, "query_id LONG, cell INT")
    probed_cells = sorted({cid for _, cid in probe_rows})
    cand = (
        index.filter(F.col("cell").isin(probed_cells))
        .join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Cd = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            Ls = np.stack([luts[q] for q in pdf["query_id"]])
            acc = np.zeros(len(Cd))
            rows = np.arange(len(Cd))
            for mi in range(m):  # ascending-m fold ≡ list_sum ORDER BY m
                acc += Ls[rows, mi, Cd[:, mi]]
            if residual:
                acc += np.array(
                    [
                        biases[(q, c)]
                        for q, c in zip(pdf["query_id"], pdf["cell"])
                    ]
                )
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "neighbor_id": pdf["vec_id"],
                    "dot": acc,
                }
            )

    scored = (
        cand.select("query_id", "vec_id", "codes", "cell")
        .mapInPandas(score, "query_id LONG, neighbor_id LONG, dot DOUBLE")
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("dot"), digits).alias("approx_cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "approx_cosine")
    )


def ivf_pq_rerank_topk(
    emb: DataFrame,
    centroid_ids: list[int],
    codebook_ids: list[int],
    query_ids: list[int],
    k: int = 3,
    k_prime: int = 8,
    nprobe: int = 2,
    m: int = 8,
    digits: int = 6,
) -> DataFrame:
    """IVF-PQ with an exact-cosine refinement stage (FAISS
    ``IndexRefineFlat`` shape): ADC ranks a widened top-``k_prime``
    candidate list per query, then only those Q×k' ids are re-scored
    against their TRUE vectors and re-ranked to the final top-``k``.
    This is the standard fix for PQ quantization error — the codes
    pick the shortlist, the floats pick the winners.

    Scale shape: the shortlist is tiny (Q×k' rows) and is BROADCAST
    back onto the corpus scan, so the exact re-rank touches only the
    shortlisted vectors via a broadcast hash join — no corpus shuffle,
    no second index. At cluster scale the shortlist join becomes a
    pushed-down id filter on the (bucketed-by-id) vector table, reading
    k'·Q rows of floats total regardless of corpus size.

    Determinism: candidate membership reuses :func:`ivf_pq_ann_topk`'s
    gated ranking (rounded ADC score, neighbor-id tiebreak); exact
    cosine is normalize-then-dot in ascending index order — the same op
    sequence as :func:`~kmeans_mapreduce_spark.operators.dedup.embedding_near_dup`,
    so 6-digit rounding matches the DuckDB twin bit-for-bit.
    """
    cand = ivf_pq_ann_topk(
        emb,
        centroid_ids,
        codebook_ids,
        query_ids,
        k=k_prime,
        nprobe=nprobe,
        m=m,
        digits=digits,
    ).select("query_id", "neighbor_id")
    return _exact_rerank(emb, cand, query_ids, k, digits)


def ivf_pq_rerank_topk_quantizers(
    emb: DataFrame,
    centers: list[tuple[int, list[float]]],
    codebooks,
    query_ids: list[int],
    k: int = 3,
    k_prime: int = 8,
    nprobe: int = 2,
    digits: int = 6,
) -> DataFrame:
    """:func:`ivf_pq_rerank_topk` with EXPLICIT quantizers — e.g. a
    :func:`fit_pq_codebooks`-trained codebook set (the production
    shape: trained PQ picks the shortlist, true floats pick the
    winners). Same broadcast-shortlist scale shape."""
    cand = ivf_pq_ann_topk_quantizers(
        emb, centers, codebooks, query_ids,
        k=k_prime, nprobe=nprobe, digits=digits,
    ).select("query_id", "neighbor_id")
    return _exact_rerank(emb, cand, query_ids, k, digits)


def ivf_pq_residual_rerank_topk(
    emb: DataFrame,
    centers: list[tuple[int, list[float]]],
    codebook_ids: list[int],
    query_ids: list[int],
    k: int = 3,
    k_prime: int = 8,
    nprobe: int = 2,
    m: int = 8,
    digits: int = 6,
) -> DataFrame:
    """Residual-ADC shortlist + exact-cosine refinement — the full
    production IVFPQ+refine stack with residual codes: the residual
    quantizer picks a widened top-k' (cheap, 8 bytes/candidate), true
    floats pick the winners. Same broadcast-shortlist scale shape as
    :func:`ivf_pq_rerank_topk`."""
    cand = ivf_pq_residual_ann_topk(
        emb, centers, codebook_ids, query_ids,
        k=k_prime, nprobe=nprobe, m=m, digits=digits,
    ).select("query_id", "neighbor_id")
    return _exact_rerank(emb, cand, query_ids, k, digits)


def _exact_rerank(
    emb: DataFrame, cand: DataFrame, query_ids: list[int], k: int, digits: int
) -> DataFrame:
    """Exact-cosine refinement of a (query_id, neighbor_id) shortlist:
    the Q×k' ids broadcast back onto the corpus scan, so only the
    shortlisted vectors are re-scored — no corpus shuffle."""
    e0 = emb.select("vec_id", _as_double_vec(F.col("embedding")).alias("v0"))
    e1 = e0.select("vec_id", "v0", norm_nd(F.col("v0")).alias("nrm"))
    e = e1.select(
        "vec_id",
        F.transform("v0", lambda x: x / F.col("nrm")).alias("nv"),
    )
    q = e.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("nv").alias("qv")
    )
    rescored = (
        e.join(
            F.broadcast(cand), e["vec_id"] == cand["neighbor_id"]
        )
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot_nd(F.col("qv"), F.col("nv")), digits).alias("cosine"),
        )
        # a zero-norm corpus vector in the ADC shortlist rescans to
        # NULL cosine (x/0 elements) — drop it rather than emit a
        # NULL-scored row, matching _brute_scored's contract
        .filter(F.col("cosine").isNotNull() & ~F.isnan(F.col("cosine")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def hard_negatives(
    emb: DataFrame, query_ids: list[int], k: int, digits: int = 6
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the k most-cosine-similar vectors with a DIFFERENT label —
    the near-miss impostors a contrastive loss learns the most from
    (easy negatives are far away and contribute ~zero gradient).

    Same scale shape as :func:`cosine_topk`: the query side broadcasts,
    the corpus is scanned once with a narrow cosine projection, and the
    label inequality rides the broadcast join condition so same-label
    rows never reach the top-k operator. At corpus scale swap the exact
    scan for the IVF index (ivf_ann_topk) and post-filter labels with a
    deeper k — identical output contract."""
    e = emb.select(
        "vec_id", "label", _as_double_vec(F.col("embedding")).alias("v")
    )
    q = e.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("v").alias("qv"),
    )
    scored = e.join(
        F.broadcast(q),
        (F.col("vec_id") != F.col("query_id"))
        & (F.col("label") != F.col("q_label")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neg_label"),
        F.round(cosine_sim(F.col("qv"), F.col("v")), digits).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "neg_label", "rank", "cosine")
    )


KNN_ROW_CAP = 1024  # tile cells above this: the GEMM per task stays
# ~cap² and a hot cell becomes m(m+1)/2 parallel tasks (measured: at
# 4× vectors with fixed K, cap 4096 left one task per cell — 12.7×
# wall; cap 1024 restores tile parallelism; the real dial at scale is
# still K ∝ N so cells stay bounded, see tools/scale_probe.py)


def knn_graph(
    emb: DataFrame,
    centers: list[tuple[int, list[float]]],
    k: int = 4,
    digits: int = 6,
    row_cap: int = KNN_ROW_CAP,
) -> DataFrame:
    """Cell-blocked exact k-NN graph: (src, dst, rank, cosine, mutual)
    — the graph-construction primitive behind label propagation,
    graph-based clustering, and SemDeDup-style curation. Each vector's
    k nearest (by cosine) SAME-CELL neighbors; ``mutual`` marks edges
    whose reverse edge is also present (the symmetrized graph most
    downstream algorithms want). Cross-cell neighbors are the accepted
    miss, exactly as in IVF with nprobe=1 — the cell count K is the
    recall/cost dial.

    Scale shape: the narrow literal-argmin assignment (no shuffle)
    shards the O(N²) score space into per-cell blocks; oversized cells
    split into pair-complete tile groups (``dedup.tiled_blocks``), each
    computing one bounded sequential-fold GEMM. A group emits only each
    row's local top-k candidates (epsilon-widened, see below), so
    Spark never materializes a full pair set — O(N·k·m) candidate rows
    for m tile groups, then ONE window per src merges them. The mutual
    flag is a self-join of the k-NN edge set with itself — O(N·k) rows
    on both sides.

    Oracle parity: the final ranking key is (cosine rounded to
    ``digits`` DESC, dst ASC) on both engines. The local top-k cut
    inside a tile uses RAW dots widened by 2·10^-digits: any candidate
    the rounded ordering could still rank within k survives the cut,
    so the exact window ranking downstream sees every contender. Dots
    are accumulated dimension-sequentially (same fold order as
    ``F.aggregate`` / DuckDB ``list_sum``), bit-identical to the twin.
    """
    import numpy as np
    import pandas as pd

    from kmeans_mapreduce_spark.operators.dedup import (
        assign_cells,
        seq_fold_gemm,
        seq_normalize,
        tiled_blocks,
    )

    assigned = assign_cells(emb, centers, out="label")

    eps = 2.0 * 10.0 ** (-digits)

    empty = pd.DataFrame(
        {
            "src": np.array([], dtype=np.int64),
            "dst": np.array([], dtype=np.int64),
            "dot": np.array([], dtype=np.float64),
        }
    )

    def _local_topk(
        ids_s: np.ndarray, ids_d: np.ndarray, G: np.ndarray, self_mask: bool
    ) -> pd.DataFrame:
        if self_mask:
            # same tile on both sides: a row is not its own neighbour
            G = G.copy()
            G[ids_s[:, None] == ids_d[None, :]] = -np.inf
        if not G.shape[1]:
            return empty
        kk = min(k, G.shape[1])
        kth = np.partition(G, -kk, axis=1)[:, -kk] if G.shape[1] > kk else np.min(G, axis=1)
        keep = G >= (kth[:, None] - eps)
        si, di = np.nonzero(keep)
        if self_mask:
            # when the cell has ≤ k members, kth is the −inf-masked
            # diagonal itself and the keep filter passes it — drop the
            # self pair explicitly (the twin joins on vec_id <> vec_id)
            nz = ids_s[si] != ids_d[di]
            si, di = si[nz], di[nz]
        return pd.DataFrame(
            {"src": ids_s[si], "dst": ids_d[di], "dot": G[si, di]}
        )

    def group_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return empty
        ta, tb = int(pdf["ta"].iat[0]), int(pdf["tb"].iat[0])
        if ta == tb:
            pdf = pdf.sort_values("vec_id")
            ids = pdf["vec_id"].to_numpy()
            Vn = seq_normalize(np.stack(pdf["embedding"].to_numpy()).astype(np.float64))
            G = seq_fold_gemm(Vn, Vn)
            return _local_topk(ids, ids, G, self_mask=True)
        a_pdf = pdf[pdf["__t"] == ta].sort_values("vec_id")
        b_pdf = pdf[pdf["__t"] == tb].sort_values("vec_id")
        if not len(a_pdf) or not len(b_pdf):
            return empty
        ids_a = a_pdf["vec_id"].to_numpy()
        ids_b = b_pdf["vec_id"].to_numpy()
        An = seq_normalize(np.stack(a_pdf["embedding"].to_numpy()).astype(np.float64))
        Bn = seq_normalize(np.stack(b_pdf["embedding"].to_numpy()).astype(np.float64))
        G = seq_fold_gemm(An, Bn)
        out_ab = _local_topk(ids_a, ids_b, G, self_mask=False)
        out_ba = _local_topk(ids_b, ids_a, G.T.copy(), self_mask=False)
        return pd.concat([out_ab, out_ba], ignore_index=True)

    local = (
        tiled_blocks(assigned, row_cap)
        .groupBy("label", "ta", "tb")
        .applyInPandas(group_topk, "src long, dst long, dot double")
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    # GRAPH BUILD BARRIER: the ranked edge set feeds BOTH sides of the
    # mutual self-join below. Left as lineage, column pruning
    # specializes the two subtrees so exchange reuse never fires and
    # the tiled GEMM executes TWICE per call (confirmed in the
    # post-AQE executedPlan: 2 FlatMapGroupsInPandas, 0
    # ReusedExchange). localCheckpoint materializes the O(N·k) ranked
    # rows once — the narrow 4-column payload keeps the barrier cost
    # trivial next to one GEMM pass.
    edges = (
        local.select("src", "dst", F.round(F.col("dot"), digits).alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .transform(narrow_barrier)
    )
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), F.lit(True).alias("mutual")
    )
    return (
        edges.join(rev, ["src", "dst"], "left")
        .na.fill({"mutual": False})
        .select("src", "dst", "rank", "cosine", "mutual")
    )


def label_propagation(
    emb: DataFrame,
    centers: list[tuple[int, list[float]]],
    k: int = 4,
    hide_mod: int = 5,
) -> DataFrame:
    """One round of k-NN label propagation (semi-supervised labeling):
    nodes with ``vec_id % hide_mod == 0`` are treated as unlabeled and
    take the majority label among their LABELED k-NN neighbors
    (tie-break: vote count DESC, label ASC — deterministic both
    engines). Output (vec_id, pred_label, votes, correct) where
    ``correct`` compares against the held-out true label — the
    evaluation a curation pipeline runs before trusting propagated
    labels at scale.

    Scale shape: everything downstream of :func:`knn_graph` is O(N·k)
    edge rows — one groupBy(src, label) with map-side combine and one
    K-row-per-src window. The expensive part is the graph itself,
    already cell-blocked."""
    g = knn_graph(emb, centers, k)
    labels = emb.select("vec_id", "label")
    edges = (
        g.join(
            labels.withColumnRenamed("vec_id", "dst").withColumnRenamed(
                "label", "dst_label"
            ),
            "dst",
        )
        .filter(
            (F.col("src") % hide_mod == 0) & (F.col("dst") % hide_mod != 0)
        )
    )
    votes = edges.groupBy("src", "dst_label").agg(
        F.count(F.lit(1)).alias("votes")
    )
    w = Window.partitionBy("src").orderBy(F.desc("votes"), F.asc("dst_label"))
    pred = votes.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    truth = labels.withColumnRenamed("vec_id", "src").withColumnRenamed(
        "label", "true_label"
    )
    return pred.join(truth, "src").select(
        F.col("src").alias("vec_id"),
        F.col("dst_label").alias("pred_label"),
        "votes",
        (F.col("dst_label") == F.col("true_label")).alias("correct"),
    )


PAGERANK_SCALE = 1_000_000  # fixed-point micro-units
PAGERANK_D_NUM = 85  # damping d = 85/100
PAGERANK_D_DEN = 100


PAGERANK_BARRIER_AFTER = 3  # lineage-vs-barrier crossover (r16 probe)


def pagerank_loop2(
    emb: DataFrame,
    centers: list[tuple[int, list[float]]],
    k: int = 4,
    scale: int = PAGERANK_SCALE,
    d_num: int = PAGERANK_D_NUM,
    d_den: int = PAGERANK_D_DEN,
    n_iter: int = 2,
    iter_barrier: bool | None = None,
) -> DataFrame:
    """Two PageRank power iterations over the MUTUAL k-NN graph —
    graph centrality as a data-curation signal (central nodes sit in
    dense semantic neighborhoods: prototypical documents; low-rank
    nodes are outliers). The graph is undirected (mutual edges appear
    in both directions), so out-degree == in-degree.

    Exactness discipline: ranks live in integer micro-units
    (``scale`` = 1e6) and EVERY step is integer arithmetic —
    ``r0 = scale div N``, per-edge share ``r div deg``, damped update
    ``base + d_num·Σshare div d_den`` — because integer addition is
    associative, so per-node sums are order-independent and the DuckDB
    twin matches bit-for-bit with no rounding negotiations (the same
    reason the sampler hashes integers instead of comparing floats).
    Floor-division truncation loses <1 micro-unit per op — noise at
    ranking granularity. Rank mass hitting truncation or isolated
    nodes (mutual-degree 0) is dropped, not redistributed — documented
    simplification, standard for centrality-as-a-signal (the global
    dangling-mass term needs one extra 1-row aggregate per iteration
    and changes no ordering).

    Scale shape: each iteration is one O(edges) equi-join of the rank
    table onto the edge list plus one map-side-combinable groupBy —
    the textbook distributed PageRank step; everything downstream of
    :func:`knn_graph` (already cell-blocked) is O(N·k).

    Output: (vec_id, degree, pr_units) after ``n_iter`` (default 2)
    iterations.

    Iteration-scaling policy (r16, verdict task 7): each iteration
    references ranks(i−1) twice (contrib join + the outer re-attach),
    so the UNBARRIERED plan re-executes ranks(i−1) twice per iteration
    — fine at 2 iterations (measured: a per-iteration barrier is
    SLOWER there, materialization > the bounded 2× recompute), but the
    recompute and the plan both grow geometrically with the loop
    length. ``iter_barrier=None`` auto-enables a per-iteration
    ``narrow_barrier`` once ``n_iter > PAGERANK_BARRIER_AFTER`` (the
    measured crossover; tools/pagerank_scale_probe.py). The gated
    loop2 query keeps its exact r15 plan.
    """
    n = emb.count()
    if n == 0:
        raise ValueError("pagerank_loop2: empty embedding corpus")
    base = (scale * (d_den - d_num) // d_den) // n
    r0 = scale // n

    # the edge list feeds deg + one join per iteration — materialize it
    # once or the whole cell-blocked graph build re-runs per consumer
    edges = (
        knn_graph(emb, centers, k)
        .filter(F.col("mutual"))
        .select("src", "dst")
        .transform(narrow_barrier)
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = emb.select("vec_id")

    ranks = nodes.join(
        deg.withColumnRenamed("src", "vec_id"), "vec_id", "left"
    ).select(
        "vec_id",
        F.coalesce(F.col("deg"), F.lit(0)).alias("deg"),
        F.lit(r0).cast("long").alias("pr"),
    )
    if iter_barrier is None:
        iter_barrier = n_iter > PAGERANK_BARRIER_AFTER
    for _ in range(n_iter):
        contrib = (
            edges.join(
                ranks.filter(F.col("deg") > 0).select(
                    F.col("vec_id").alias("src"),
                    F.expr("pr div deg").alias("share"),
                ),
                "src",
            )
            .groupBy("dst")
            .agg(F.sum("share").alias("insum"))
        )
        ranks = (
            ranks.join(
                contrib.withColumnRenamed("dst", "vec_id"), "vec_id", "left"
            )
            .select(
                "vec_id",
                "deg",
                (
                    F.lit(base)
                    + F.expr(
                        f"{d_num} * coalesce(insum, 0L) div {d_den}"
                    )
                ).cast("long").alias("pr"),
            )
        )
        if iter_barrier:
            ranks = narrow_barrier(ranks)
    return ranks.select(
        "vec_id", F.col("deg").cast("int").alias("degree"),
        F.col("pr").alias("pr_units"),
    )


OUTLIER_Z = 2.0  # flag threshold on the per-cell distance z-score


def embedding_outliers(
    emb: DataFrame,
    centers: list[tuple[int, list[float]]],
    digits: int = 6,
    z_digits: int = 4,
) -> DataFrame:
    """Embedding-space outlier detection: per-cell z-score of each
    vector's squared distance to its coarse centroid — the
    remove-the-weird-tail curation filter (mislabeled scans, encoding
    junk, off-distribution documents sit far from every cluster
    center; SemDeDup's complement: instead of pruning the TOO-similar,
    prune the too-far).

    Exactness discipline: the per-cell moments are computed from
    ROUNDED per-row distances and the two aggregate sums are rounded
    once more before any derived scalar (mean, sample variance, std)
    is formed — from there every step is single IEEE scalar
    arithmetic, identical in both engines, so no stddev-implementation
    difference (Spark's streaming M2 vs DuckDB's) can leak into the
    gate. Cells with n < 2 or zero variance yield NULL z and
    ``is_outlier=False`` (two-valued, so ``filter(~is_outlier)``
    keeps singleton-cell rows).

    Scale shape: literal-argmin assignment (no join, no shuffle), one
    map-side-combinable K-row aggregate, stats broadcast back onto a
    narrow scan — the corpus is never exchanged.

    Output: (vec_id, cell, d2, z, is_outlier).
    """
    from kmeans_mapreduce_spark.operators.dedup import assign_cells

    # the assignment scan feeds the stats aggregate AND the final join
    # — materialize it once or the K-centroid fold re-runs per consumer
    a = (
        assign_cells(emb, centers, out="cell", keep_d2="d2")
        .select("vec_id", "cell", F.round("d2", digits).alias("d2"))
        .transform(narrow_barrier)
    )
    stats = a.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("d2"), digits).alias("s1"),
        F.round(F.sum(F.col("d2") * F.col("d2")), digits).alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    mean = s1 / n
    var = F.greatest(
        (s2 - s1 * s1 / n) / (n - F.lit(1)), F.lit(0.0)
    )
    std = F.sqrt(var)
    z = F.when(
        (n >= 2) & (std > 0),
        F.round((F.col("d2") - mean) / std, z_digits),
    )
    return (
        a.join(F.broadcast(stats), "cell")
        .withColumn("z", z)
        # two-valued flag: a NULL-z row (singleton cell / zero
        # variance) is NOT an outlier — filter(~is_outlier) must keep it
        .withColumn(
            "is_outlier",
            F.coalesce(F.col("z") >= F.lit(OUTLIER_Z), F.lit(False)),
        )
        .select("vec_id", "cell", "d2", "z", "is_outlier")
    )


# ---------------------------------------------------------------------------
# Int8 embedding quantization (storage / retrieval path for 100-TB stores)
# ---------------------------------------------------------------------------

BINARY_WORD_BITS = 32  # sign bits packed per int64 word — 32 keeps
# every 2^d literal ≤ 2^31, exactly representable and positive in
# BOTH engines (the simhash ≤62-bit lesson, with margin)


def binary_quantize(emb: DataFrame, dim: int = 64) -> DataFrame:
    """1-BIT (sign) quantization — the extreme point of the storage
    ladder after int8: bit d = 1 iff v[d] > 0, packed into
    ``ceil(dim/32)`` int64 words → a 64-d float32 embedding becomes 8
    bytes (32× smaller; the shape binary-vector stores like FAISS
    IndexBinaryFlat serve). Sign is invariant to the positive L2
    scale, so this quantizes raw v0 and normalized nv identically —
    no normalization pass at all. Narrow projection, pure Catalyst
    integer arithmetic, no shuffle.

    Output: (vec_id, w0, w1, ...) flat BIGINT word columns."""
    if dim <= 0 or dim % BINARY_WORD_BITS:
        raise ValueError(
            f"binary_quantize: dim ({dim}) must be a multiple of "
            f"{BINARY_WORD_BITS}"
        )
    e = emb.select("vec_id", _as_double_vec(F.col("embedding")).alias("v"))
    cols = []
    for w in range(dim // BINARY_WORD_BITS):
        acc = None
        for d in range(BINARY_WORD_BITS):
            term = F.when(
                F.element_at("v", w * BINARY_WORD_BITS + d + 1) > 0,
                F.lit(1 << d).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            acc = term if acc is None else acc + term
        cols.append(acc.alias(f"w{w}"))
    return e.select("vec_id", *cols)


def binary_hamming_topk(
    emb: DataFrame, query_ids: list[int], k: int = 5, dim: int = 64
) -> DataFrame:
    """Retrieval FROM the 1-bit form: per query, the k corpus vectors
    with the smallest Hamming distance between sign sketches
    (tie→lowest neighbor_id) — the candidate-generation stage a
    binary-quantized store runs before any float re-rank. Exact
    integer popcount end-to-end: zero float ops, zero rounding, the
    hash gate is airtight by construction. Query sketches ride a
    broadcast join; the corpus side reads 8 bytes per vector."""
    n_words = dim // BINARY_WORD_BITS
    bq = binary_quantize(emb, dim=dim)
    qrows = bq.filter(
        F.col("vec_id").isin(sorted(set(query_ids)))
    ).select(
        F.col("vec_id").alias("query_id"),
        *[F.col(f"w{w}").alias(f"qw{w}") for w in range(n_words)],
    )
    cand = bq.join(
        F.broadcast(qrows), F.col("vec_id") != F.col("query_id")
    )
    ham = None
    for w in range(n_words):
        term = F.bit_count(
            F.col(f"w{w}").bitwiseXOR(F.col(f"qw{w}"))
        ).cast("long")
        ham = term if ham is None else ham + term
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        ham.alias("hamming"),
    )
    win = Window.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "hamming")
    )


INT8_QMAX = 127  # symmetric signed-int8 range


def quantize_int8(emb: DataFrame, digits: int = 6) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column:
    ``scale = max(|x|)/127``, ``q_i = floor(x_i/scale + 0.5)`` — the
    storage form that cuts a float32 embedding store 4× (the difference
    between shipping 100 TB and 25 TB of vectors between stages).

    A narrow per-row projection — no shuffle, no UDF: ``array_max``/
    ``transform`` stay in whole-stage codegen, and ``posexplode``
    emits one (vec_id, i, q) row per dimension so the gate pins every
    quantized value, the scale, and the per-dimension reconstruction
    error ``(x_i − q_i·scale)²``. |x_i| ≤ amax ⇒ |x_i/scale| ≤ 127
    exactly, so floor(·+0.5) never leaves [-127, 127] and no clamp is
    needed; an all-zero vector takes the scale=0 branch (q ≡ 0,
    error ≡ x²=0).

    Output: (vec_id, i [1-based], q, scale, dim_err), scale and
    dim_err rounded to ``digits``.
    """
    e = emb.select("vec_id", _as_double_vec(F.col("embedding")).alias("v"))
    amax = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
    staged = e.select(
        "vec_id", "v", (amax / F.lit(float(INT8_QMAX))).alias("scale")
    )
    x = F.col("xv")
    q = F.when(F.col("scale") == 0, F.lit(0)).otherwise(
        F.floor(x / F.col("scale") + F.lit(0.5)).cast("int")
    )
    per_dim = staged.select(
        "vec_id", "scale", F.posexplode("v").alias("pos", "xv")
    ).select(
        "vec_id",
        (F.col("pos") + 1).cast("int").alias("i"),
        q.alias("q"),
        "scale",
        "xv",
    )
    err = (x - F.col("q").cast("double") * F.col("scale")) * (
        x - F.col("q").cast("double") * F.col("scale")
    )
    return per_dim.select(
        "vec_id",
        "i",
        "q",
        # pinned floor-form rounding (both non-negative) — ADVICE r6
        ieee_round_pos(F.col("scale"), digits).alias("scale"),
        ieee_round_pos(err, digits).alias("dim_err"),
    )


def int8_cosine_topk(
    emb: DataFrame, query_ids: list[int], k: int = 5, digits: int = 6
) -> DataFrame:
    """Quantized retrieval: cosine top-k computed on int8-quantized
    UNIT vectors — the int8 analogue of :func:`cosine_topk`, and the
    form a 100-TB store actually serves (4× less data moved per probe,
    integer dot products instead of float).

    Each vector is L2-normalized (sequential-fold norm, the oracle's
    ``list_sum`` order) then quantized as in :func:`quantize_int8`;
    similarity(a, b) = (Σ qa_i·qb_i) · scale_a · scale_b. The dot is
    EXACT (64-dim int8 dot ≤ 127²·64 ≪ 2⁶³), so the only float ops are
    two multiplies — order-independent and bit-identical across
    engines with no micro-unit staging needed. Zero-norm vectors are
    dropped (cosine undefined), matching :func:`cosine_topk`.

    Output: (query_id, neighbor_id, rank, score_q) ranked by rounded
    score with neighbor_id as tiebreak.
    """
    e0 = emb.select("vec_id", _as_double_vec(F.col("embedding")).alias("v0"))
    nrm = F.sqrt(dot_nd(F.col("v0"), F.col("v0")))
    e1 = e0.select("vec_id", "v0", nrm.alias("nrm")).filter(F.col("nrm") > 0)
    ev = e1.select(
        "vec_id",
        F.transform(F.col("v0"), lambda x: x / F.col("nrm")).alias("v"),
    )
    amax = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
    staged = ev.select(
        "vec_id", "v", (amax / F.lit(float(INT8_QMAX))).alias("scale")
    )
    qv = F.transform(
        F.col("v"),
        lambda x: F.when(F.col("scale") == 0, F.lit(0)).otherwise(
            F.floor(x / F.col("scale") + F.lit(0.5)).cast("int")
        ),
    )
    eq = staged.select("vec_id", qv.alias("qv"), "scale")
    q = eq.filter(F.col("vec_id").isin([int(i) for i in query_ids])).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("qa"),
        F.col("scale").alias("sa"),
    )
    idot = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qv"), lambda a_, b_: (a_ * b_).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        eq.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            # pinned floor-form rounding (signed score; twin runs the
            # identical expression) — ADVICE r6
            ieee_round_signed(
                idot.cast("double") * F.col("sa") * F.col("scale"), digits
            ).alias("score_q"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_q"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score_q")
    )


def ivf_incremental_topk(
    emb: DataFrame,
    centroid_ids: list[int],
    query_ids: list[int],
    k: int = 3,
    nprobe: int = 2,
    digits: int = 6,
    delta_mod: int = 5,
) -> DataFrame:
    """Append-only IVF index MAINTENANCE (the vector-index analog of
    ``events.incremental_rollup``): the history index is built once,
    new vectors are assigned to the SAME fixed coarse cells and
    appended — one pass over the DELTA only, zero history rescans, no
    retrain, no rebuild. This is how a production vector index absorbs
    a daily embedding drop: per-refresh work is O(|delta|), and cell
    assignment with fixed centers is deterministic, so

        history-index ⊎ delta-index ≡ full-rebuild index, exactly —

    the probe over the maintained index returns bit-identical top-k to
    a from-scratch build. The oracle IS the full IVF replay, so the
    gate checks that maintenance invariant cross-engine (the same
    contract the incremental rollup's full-recompute twin pins).

    The history/delta split here is a deterministic ``vec_id %
    delta_mod`` partition standing in for the arrival boundary; both
    passes run :func:`build_ivf_index` (one Arrow corpus pass each
    over disjoint rows = one pass over the whole corpus total).

    When cells drift (the trained quantizer moves), incremental append
    stops being exact by construction — that is the rebuild trigger,
    exactly as FAISS re-trains its coarse quantizer offline.
    """
    centers, qvecs = _fetch_centers_and_queries(
        emb, centroid_ids, query_ids, "ivf_incremental_topk"
    )
    history = emb.filter(F.col("vec_id") % delta_mod != 0)
    delta = emb.filter(F.col("vec_id") % delta_mod == 0)
    # the same INDEX BUILD BARRIER every probe path applies
    # (ivf_ann_topk_centers documents why): without it each probe join
    # re-executes BOTH build passes and derived-predicate pushdown can
    # reshape the build tree — the maintained index, like any index, is
    # built once and then queried
    index = (
        build_ivf_index(history, centers)
        .unionByName(build_ivf_index(delta, centers))
        .transform(narrow_barrier)
    )
    return probe_ivf_index(
        index, centers, qvecs, k=k, nprobe=nprobe, digits=digits
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over the symmetrized k-NN graph — the
    local-clustering / community-density primitive (a node's triangles
    measure how interconnected its neighborhood is; the global sum/3
    is the graph's triangle count).

    Algorithm: compact-forward with DEGREE ORIENTATION — the classic
    distributed-triangle trick (Cohen's MapReduce formulation): each
    undirected edge is oriented from its lower-(degree, id) endpoint
    to the higher one, so every wedge is enumerated at its LOWEST-
    degree vertex and the join fan-out per vertex is bounded by its
    oriented out-degree — a hub of in-degree D generates no wedges
    itself, killing the quadratic skew blowup a naive edge-edge
    self-join has. Each triangle is found exactly once (at its
    lowest-(degree, id) corner), then credited to all three vertices
    via one explode.

    Scale shape: inputs are the O(N·k) k-NN edge rows, never the
    corpus; two equi-joins (wedge build on the pivot vertex, closure
    probe on the canonical edge) + one explode + one count — all keys
    uniform after orientation. Pure integer/id arithmetic: no floats
    anywhere, so cross-engine exactness is structural.

    Output: (vec_id, n_triangles), nodes with ≥1 triangle.
    """
    # the undirected edge set feeds FOUR consumers (both degree-union
    # branches, the orientation join, the closure probe); materialize
    # it once so the upstream graph build never re-executes per branch
    und = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(narrow_barrier)
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionAll(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b"))
    lower_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("w"),
        )
    )
    o1 = oriented.select(F.col("u"), F.col("w").alias("w1"))
    o2 = oriented.select(F.col("u"), F.col("w").alias("w2"))
    wedges = o1.join(o2, "u").filter(F.col("w1") < F.col("w2"))
    # w1 < w2 already holds, so the canonical closure edge is (w1, w2)
    tri = wedges.join(
        und, (F.col("a") == F.col("w1")) & (F.col("b") == F.col("w2"))
    ).select("u", "w1", "w2")
    return (
        tri.select(
            F.explode(F.array("u", "w1", "w2")).alias("vec_id")
        )
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def index_drift(
    emb: DataFrame,
    centers: list[tuple[int, list[float]]],
    delta_mod: int = 5,
    digits: int = 6,
) -> DataFrame:
    """Per-cell DRIFT between the historical and new halves of a
    vector corpus — the measured REBUILD TRIGGER for the append-only
    IVF maintenance (:func:`ivf_incremental_topk` stays exact only
    while the coarse cells still describe the data; this is the number
    that says when they stop): for each coarse cell, the population of
    each half and the Euclidean displacement between the two halves'
    mean vectors.

    Exactness: per-(cell, half, dim) means convert to signed MICRO-UNIT
    integers (the floor(x·1e6 + ½) pin), so the displacement's
    sum-of-squared-diffs runs in exact int64 (|diff| ≤ 2e6 micro →
    Σ over 64 dims ≤ 2.6e14 ≪ 2^63); sqrt + the pinned round are the
    only trailing float ops. The float mean itself carries the usual
    summation-order noise the micro rounding absorbs (boundary-scanned,
    like every rounded aggregate).

    Scale shape: assignment is the shared literal-argmin (no join, no
    shuffle); the per-dim explode shuffles (cell, half, dim)-keyed rows
    — d× the corpus rows but map-side combined into O(K·2·d) groups
    (production would fuse this into the PCA-style Arrow suffstats
    pass; the explode form is the SQL-parallel gate shape). Cells
    missing either half emit drift = NULL.

    Output: (cell, n_hist, n_new, drift).
    """
    from kmeans_mapreduce_spark.operators.dedup import assign_cells

    assigned = assign_cells(emb, centers, out="cell")
    half = (F.col("vec_id") % F.lit(int(delta_mod)) == 0).alias("is_new")
    counts = assigned.select("vec_id", "cell", half).groupBy("cell").agg(
        F.sum(F.when(~F.col("is_new"), 1).otherwise(0)).alias("n_hist"),
        F.sum(F.when(F.col("is_new"), 1).otherwise(0)).alias("n_new"),
    )
    x = assigned.select(
        "cell",
        half,
        F.posexplode(F.col("embedding")).alias("pos", "val"),
    ).select(
        "cell",
        "is_new",
        (F.col("pos") + 1).alias("dim"),
        F.col("val").cast("double").alias("val"),
    )
    m = x.groupBy("cell", "is_new", "dim").agg(
        F.expr(
            "cast(floor((sum(val) / count(1)) * 1000000.0 + 0.5) as bigint)"
        ).alias("mm")
    )
    h = m.filter(~F.col("is_new")).select(
        "cell", "dim", F.col("mm").alias("mh")
    )
    w = m.filter(F.col("is_new")).select(
        "cell", "dim", F.col("mm").alias("mw")
    )
    ss = (
        h.join(w, ["cell", "dim"])
        .groupBy("cell")
        .agg(
            F.sum(
                (F.col("mh") - F.col("mw")) * (F.col("mh") - F.col("mw"))
            ).alias("ss")
        )
    )
    from kmeans_mapreduce_spark.functions.text import ieee_round_pos

    drift = ieee_round_pos(
        F.sqrt(F.col("ss").cast("double")) / F.lit(1_000_000.0), digits
    )
    return counts.join(ss, "cell", "left").select(
        "cell", "n_hist", "n_new", drift.alias("drift")
    )
