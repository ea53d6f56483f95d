"""Similarity search over an embedding column (array<float>).

Six paths, each returning (query_id, nbr_id, rank) per query except the
all-pairs join:
  * brute_force_topk — exact cosine top-k baseline.  Broadcast the (small)
    query set against the full corpus; dot products via zip_with/aggregate
    HOFs (JVM-side, codegen) in double precision.
  * all_pairs_cosine — exact all-pairs near-dup pairs as a distributed
    block-nested-loop matrix multiply.
  * lsh_topk — signed-random-projection ANN: signatures from a
    deterministic md5-seeded hyperplane family (no RNG state to ship),
    candidates restricted to matching buckets, exact re-rank inside.
  * ivf_topk — inverted file: sampled k-means cells, each query probes
    its nearest cells, exact re-rank.
  * pq_topk / ivfpq_topk — product-quantization ADC over codes, one search
    core (_pq_search): flat PQ is IVF-PQ with one zero coarse centroid.

Shared pieces: one bounded training sample and Lloyd kernel, one
batch-shape-independent nearest-centroid kernel (_nearest, also used by
operators/semdedup.py), one driver-side probe pick and one per-query
top-k tail.
"""

from __future__ import annotations

import itertools

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# lsh_topk's recall amplification, pinned by the DuckDB oracle ANN_LSH_SQL
# (queries.py): plane families OR-ed together, and the Hamming radius each
# query also probes around its own bucket
LSH_TABLES = 8
LSH_MULTIPROBE = 1


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


def cosine_similarity_col(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _f64(vec):
    return F.transform(vec, lambda x: x.cast("double"))


def _top_k(
    scored: DataFrame, k: int, score: str = "cos", ascending: bool = False
) -> DataFrame:
    """Per query, the k best rows of (query_id, nbr_id, score) ranked
    1..k: best score first, ties to the lower nbr_id."""
    order = F.asc(score) if ascending else F.desc(score)
    w = Window.partitionBy("query_id").orderBy(order, F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", F.col("rank").cast("long").alias("rank"))
    )


def _nearest(x, cent, n: int | None = None):
    """Index of each row's nearest row of `cent` by squared L2 — or, given
    `n`, its n nearest in stable order (near ties, e.g. a stale centroid
    of an emptied Lloyd cluster, order identically everywhere).

    argmin ||v-c||^2 = argmin (|c|^2 - 2 v.c), with a fixed-order einsum
    SOP loop rather than BLAS GEMM: a row's result must not depend on how
    many rows share its Arrow batch (dgemm kernel choice varies with M and
    can flip a near-tied argmin between layouts, or against a golden)."""
    d = (cent * cent).sum(axis=1)[None, :] - 2.0 * np.einsum("ij,kj->ik", x, cent)
    if n is None:
        return d.argmin(axis=1)
    return d.argsort(axis=1, kind="stable")[:, :n]


def _probe(emb: DataFrame, query_ids: list[int], cent, n_probe: int,
           id_col: str, vec_col: str):
    """Collect the query rows (bounded: |query_ids| rows) and pick each
    query's `n_probe` nearest cells on the driver.  Returns the rows, their
    (nq, dim) float64 matrix and the (nq, n_probe) cell ids."""
    rows = (
        emb.filter(F.col(id_col).isin(query_ids)).select(id_col, vec_col).collect()
    )
    qmat = np.array([r[1] for r in rows], dtype=np.float64).reshape(
        len(rows), cent.shape[1]
    )
    return rows, qmat, _nearest(qmat, cent, n_probe)


def brute_force_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast queries x full scan; one shuffle for
    the per-query top-k window.  At 100 TB the scan is the cost — the
    query side stays broadcast as long as |queries| is small."""
    vecs = emb.select(
        F.col(id_col).alias("nbr_id"),
        _f64(F.col(vec_col)).alias("v"),
    )
    queries = vecs.filter(F.col("nbr_id").isin(query_ids)).select(
        F.col("nbr_id").alias("query_id"), F.col("v").alias("q")
    )
    scored = (
        vecs.crossJoin(F.broadcast(queries))
        .filter(F.col("nbr_id") != F.col("query_id"))
        .select(
            "query_id",
            "nbr_id",
            cosine_similarity_col(F.col("q"), F.col("v")).alias("cos"),
        )
    )
    return _top_k(scored, k)


def all_pairs_cosine(
    emb: DataFrame,
    min_cos: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine near-dup: DISTRIBUTED block-nested-loop
    matrix multiply — no driver-side collect of the vector table.

    Every vector is hashed into one of `num_blocks` blocks; each unordered
    block pair (i, j) becomes one task whose input is the rows of blocks i
    and j (each vector ships to exactly `num_blocks` tasks), and the task
    computes the dense i x j cosine matrix with BLAS, emitting pairs with
    cos >= min_cos and id_a < id_b exactly once.

    Scale shape: shuffle volume = num_blocks x corpus (tune num_blocks ~
    sqrt(cluster cores)); per-task memory = 2/num_blocks of the corpus.
    Exact all-pairs is inherently O(n^2) compute — beyond re-rank scale,
    candidate generation belongs to LSH (lsh_topk / minhash) and this
    kernel re-ranks candidate blocks.  A row-pair equi/theta join with
    per-pair HOF folds is ~100x slower (measured: hang at 2k vectors vs
    seconds here)."""
    import pandas as pd

    B = int(num_blocks)

    base = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col).cast("long")), F.lit(B)).cast("int").alias("blk"),
    )
    # replicate each row into every unordered block pair it belongs to:
    # for other-block o, pair key = (min(blk,o), max(blk,o)); o == blk is
    # the single within-block copy.
    rows = base.select(
        "vid",
        "v",
        "blk",
        F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("o"),
    ).withColumn(
        "pk", (F.least("blk", "o") * B + F.greatest("blk", "o")).cast("int")
    ).drop("o")

    def pair_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cos_x1000": []}).astype(
            {"id_a": "int64", "id_b": "int64", "cos_x1000": "int64"}
        )
        if not len(pdf):
            return empty
        pk = int(pdf["pk"].iloc[0])
        b_lo, b_hi = pk // B, pk % B
        ids = pdf["vid"].to_numpy(dtype=np.int64)
        blks = pdf["blk"].to_numpy()
        mat = np.array(list(pdf["v"]), dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            if b_lo == b_hi:
                sims = (mat @ mat.T) / np.outer(norms, norms)
                mask = (sims >= min_cos) & (ids[None, :] > ids[:, None])
                ia, ja = np.nonzero(mask)
                id_a, id_b = ids[ia], ids[ja]
                cos = sims[ia, ja]
            else:
                lo = blks == b_lo
                hi = ~lo
                sims = (mat[lo] @ mat[hi].T) / np.outer(norms[lo], norms[hi])
                mask = sims >= min_cos
                ia, ja = np.nonzero(mask)
                xa, xb = ids[lo][ia], ids[hi][ja]
                id_a, id_b = np.minimum(xa, xb), np.maximum(xa, xb)
                cos = sims[ia, ja]
        return pd.DataFrame(
            {
                "id_a": id_a,
                "id_b": id_b,
                "cos_x1000": np.floor(cos * 1000).astype(np.int64),
            }
        )

    return rows.groupBy("pk").applyInPandas(
        pair_fn, "id_a long, id_b long, cos_x1000 long"
    )


def _hyperplanes(dim: int, n_planes: int, table: int = 0) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: component (t, p, i) derives
    from md5(t:p:i) mapped to [-1, 1).  Stateless — identical on every
    executor and every engine, no RNG to seed."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for i in range(dim):
            h = int.from_bytes(
                hashlib.md5(f"{table}:{p}:{i}".encode()).digest()[:8], "big"
            )
            row.append(h / float(1 << 63) - 1.0)
        planes.append(row)
    return planes


def srp_bucket(vec_col, planes: list[list[float]]):
    """Signed-random-projection bucket id (bit per hyperplane)."""
    bucket = F.lit(0).cast("long")
    for bit, plane in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(
                vec_col,
                F.array(*[F.lit(c) for c in plane]),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot >= 0, F.lit(1 << bit)).otherwise(F.lit(0))
    return bucket


def _train_sample(
    emb: DataFrame,
    train_cap: int,
    id_col: str,
    vec_col: str,
):
    """The shared deterministic bounded training sample (xxhash64-pmod
    filter in id order, 512 MiB driver guard) behind every quantizer
    trainer — ONE definition so the coarse, PQ, and IVF-PQ paths can
    never drift, and callers that need both quantizers collect it
    once."""
    total = emb.count()
    frac_pct = max(1, min(100, int(100 * train_cap / max(total, 1))))
    sample = (
        emb.select(id_col, vec_col)
        .filter(
            F.pmod(F.xxhash64(F.col(id_col).cast("long")), F.lit(100))
            < frac_pct
        )
        .orderBy(id_col)
        .limit(train_cap)
        .collect()
    )
    train = np.array([r[1] for r in sample], dtype=np.float64)
    if train.nbytes > 512 * 1024 * 1024:
        raise ValueError(
            f"quantizer train sample is {train.nbytes >> 20} MiB "
            f"({len(train)} x {train.shape[1]} f64): lower train_cap — "
            "the quantizer needs only a bounded sample (faiss-style)"
        )
    return train


def _coarse_lloyd(train, n_centroids: int):
    """First-k-init 10-iteration float64 Lloyd over the sample matrix
    (the quantizer kernel shared by train_centroids, ivfpq_topk and every
    PQ subspace)."""
    cent = train[:n_centroids].copy()
    for _ in range(10):
        # argmin ||v-c||^2 = argmin (|c|^2 - 2 v.c): (n,K) temporaries only,
        # never the (n,K,dim) broadcast form (~160 MB/iter at defaults)
        c2 = (cent * cent).sum(axis=1)
        assign = (c2[None, :] - 2.0 * (train @ cent.T)).argmin(axis=1)
        for c in range(n_centroids):
            members = train[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return cent


def train_centroids(
    emb: DataFrame,
    n_centroids: int,
    train_cap: int = 20_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Deterministic coarse-quantizer training shared by `ivf_topk` and
    `semantic_dedup` (operators/semdedup.py): bounded hash-sample of
    vectors in id order, first-k init, 10 numpy-float64 Lloyd iterations,
    zero RNG.  Returns the (n_centroids, dim) float64 centroid matrix —
    tiny by construction, meant to be broadcast by the caller.

    The xxhash64-pmod sample plus the 512 MiB guard make this the only
    corpus-sized driver allocation in either operator: faiss-style, the
    quantizer trains on a sample, never the corpus.  Sample collection
    and the Lloyd kernel live in _train_sample/_coarse_lloyd (shared
    with the PQ family)."""
    train = _train_sample(emb, train_cap, id_col, vec_col)
    if len(train) < n_centroids:
        raise ValueError(
            f"{len(train)} training vectors < {n_centroids} centroids"
        )
    return _coarse_lloyd(train, n_centroids)


def ivf_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    train_cap: int = 20_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN top-k — the coarse-quantizer scale path.

    1. TRAIN: a deterministic hash-sample of vectors (bounded at
       `train_cap` rows — same shape as faiss, which trains its quantizer
       on a sample) is collected and k-means'd on the driver: numpy Lloyd
       iterations, init = first-k of the sample in id order, zero RNG.
       The centroid matrix is tiny (n_centroids x dim) and broadcast.
    2. ASSIGN: every vector gets cell = argmin ||v - c||, vectorized numpy
       inside mapInPandas — one narrow pass, no shuffle.
    3. SEARCH: each query probes its `n_probe` nearest cells, picked on
       the driver (_probe: a bounded |query_ids| collect); candidates are
       fetched by an equi-join on cell id (the piece that replaces the
       full scan) and re-ranked exactly; per-query top-k window.

    Recall is governed by n_probe/n_centroids (gated >= 0.8 in
    tests/test_operators.py on the synthetic table).  Unlike SRP-LSH the
    cells adapt to the data distribution, so clustered corpora get high
    recall at a small probe fraction."""
    spark = emb.sparkSession
    # -- 1. deterministic bounded sample -> driver-side Lloyd iterations
    cent = train_centroids(
        emb, n_centroids, train_cap, id_col=id_col, vec_col=vec_col
    )
    bc = spark.sparkContext.broadcast(cent)

    # -- 2. cell assignment, one narrow vectorized pass
    def assign_cells(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({"nbr_id": [], "v": [], "cell": []})
                continue
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            yield pd.DataFrame(
                {
                    "nbr_id": pdf[id_col],
                    "v": pdf[vec_col],
                    "cell": _nearest(mat, bc.value).astype("int32"),
                }
            )

    vec_type = emb.schema[vec_col].dataType.simpleString()
    id_type = emb.schema[id_col].dataType.simpleString()
    cells = emb.select(id_col, vec_col).mapInPandas(
        assign_cells, f"nbr_id {id_type}, v {vec_type}, cell int"
    )

    # -- 3. one (query_id, q, cell) row per probed cell, broadcast
    qrows, _, probe = _probe(emb, query_ids, cent, n_probe, id_col, vec_col)
    probes = spark.createDataFrame(
        [(r[0], r[1], int(c)) for r, cs in zip(qrows, probe) for c in cs],
        f"query_id {id_type}, q {vec_type}, cell int",
    )
    scored = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("nbr_id") != F.col("query_id"))
        .select(
            "query_id",
            "nbr_id",
            cosine_similarity_col(_f64(F.col("q")), _f64(F.col("v"))).alias("cos"),
        )
    )
    return _top_k(scored, k)


def lsh_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """ANN top-k: candidates share an SRP bucket with the query, exact
    cosine re-rank within.  Equi-join on bucket replaces the cross join —
    the piece that makes 10^12-vector corpora feasible.  Recall < 1.0 by
    construction (that's the trade; quantified in tests/test_operators.py).

    Recall amplification (single-table SRP recall collapses on weakly
    clustered embeddings — measured 0.07 on the near-isotropic synthetic
    table): LSH_TABLES independent plane families OR-ed together, plus
    Hamming-ball multiprobe (the query also looks in every bucket that
    differs from its own by <= LSH_MULTIPROBE bits).  These are module
    constants, not parameters, because the DuckDB oracle ANN_LSH_SQL pins
    them (6 planes x 8 tables x 1-bit probes by default), which hold
    recall@5 >= 0.8 even on near-random vectors.  Candidate volume scales
    as LSH_TABLES * sum_{r <= LSH_MULTIPROBE} C(n_planes, r) buckets per
    query; `n_planes` is the knob a caller turns.

    Pass `dim` (the embedding dimensionality) to keep plan construction
    action-free; when omitted, a LIMIT-1 probe reads it from the data."""
    if dim is None:
        first = emb.select(vec_col).first()
        dim = len(first[0]) if first else 0
    vecs = emb.select(
        F.col(id_col).alias("nbr_id"),
        _f64(F.col(vec_col)).alias("v"),
        F.posexplode(
            F.array(
                *[
                    srp_bucket(F.col(vec_col), _hyperplanes(dim, n_planes, t))
                    for t in range(LSH_TABLES)
                ]
            )
        ).alias("tbl", "bucket"),
    )
    base_q = vecs.filter(F.col("nbr_id").isin(query_ids))
    # multiprobe: each query row also probes the buckets within
    # LSH_MULTIPROBE Hamming bits of its own (query-side only — the
    # broadcast side grows, the corpus side never does)
    probe_offsets = [
        sum(1 << b for b in bits)
        for r in range(LSH_MULTIPROBE + 1)
        for bits in itertools.combinations(range(n_planes), r)
    ]
    queries = base_q.select(
        F.col("nbr_id").alias("query_id"),
        F.col("v").alias("q"),
        "tbl",
        F.explode(
            F.array_distinct(
                F.array(*[
                    F.col("bucket").bitwiseXOR(F.lit(off)) for off in probe_offsets
                ])
            )
        ).alias("qbucket"),
    )
    candidates = (
        vecs.join(
            F.broadcast(queries),
            (vecs["tbl"] == queries["tbl"]) & (F.col("bucket") == F.col("qbucket")),
        )
        .filter(F.col("nbr_id") != F.col("query_id"))
        .select("query_id", "nbr_id", "q", "v")
        .dropDuplicates(["query_id", "nbr_id"])
    )
    scored = candidates.select(
        "query_id",
        "nbr_id",
        cosine_similarity_col(F.col("q"), F.col("v")).alias("cos"),
    )
    return _top_k(scored, k)


def train_pq_codebooks(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    train_cap: int = 20_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Product-quantization codebook training (Jégou et al. 2011): the
    vector is split into `m` contiguous subspaces and each gets its own
    ksub-centroid quantizer — so an m x ksub table indexes ksub^m cells
    with m*ksub*dsub floats of codebook.  Same sample discipline as
    train_centroids (shared _train_sample: deterministic bounded
    id-ordered hash sample, 512 MiB guard, zero RNG).  Returns float64
    codebooks of shape (m, ksub, dsub)."""
    train = _train_sample(emb, train_cap, id_col, vec_col)
    if len(train) < ksub:
        raise ValueError(f"{len(train)} training vectors < ksub={ksub}")
    return _pq_codebooks(train, m, ksub)


def _pq_codebooks(train, m: int, ksub: int):
    """_coarse_lloyd per subspace of an (n, dim) matrix -> (m, ksub, dsub)
    codebooks.  Flat PQ trains on the vectors, IVF-PQ on their coarse
    residuals."""
    dim = train.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return np.stack(
        [_coarse_lloyd(train[:, j * dsub : (j + 1) * dsub], ksub) for j in range(m)]
    )


def _pq_search(
    emb: DataFrame,
    query_ids: list[int],
    k: int,
    cent,
    books,
    n_probe: int,
    shortlist: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """IVFADC search (Jégou et al. 2011), the one scan behind pq_topk and
    ivfpq_topk: the coarse centroids `cent` route each vector to a cell,
    the (m, ksub, dsub) `books` quantize its residual v - cent[cell], and
    a query scans only its `n_probe` nearest cells.  Flat PQ is the case
    of one zero centroid: the residual is the vector and there is one
    cell.

    1. ENCODE: one narrow mapInPandas pass emits (nbr_id, cell, codes);
       _nearest keeps it batch-shape independent.
    2. ADC TABLES (driver, bounded |query_ids| collect): per query and
       probed cell, the (m, ksub) squared distances from the query's
       residual subvectors to every codeword.
    3. ADC SCAN: every partition of the codes frame emits only its
       per-partition top-`shortlist` candidates per query (bounded emit:
       the map-side top-k that makes the scan 100-TB-shaped — never
       O(N x Q) rows), then one global rank cuts to `shortlist`.  Top-S
       of the union of per-partition top-S equals the global top-S, ties
       broken by id.
    4. EXACT RE-RANK of the shortlist by true cosine (the same JVM fold
       expression the other ANN paths use), top-k per query."""
    spark = emb.sparkSession
    m, ksub, dsub = books.shape
    bc = spark.sparkContext.broadcast((cent, books))

    def encode(batches):
        import pandas as pd

        C, B = bc.value
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({"nbr_id": [], "cell": [], "codes": []})
                continue
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            cells = _nearest(mat, C)
            res = mat - C[cells]
            codes = np.stack(
                [_nearest(res[:, j * dsub : (j + 1) * dsub], B[j]) for j in range(m)],
                axis=1,
            )
            yield pd.DataFrame(
                {
                    "nbr_id": pdf[id_col],
                    "cell": cells.astype("int32"),
                    "codes": list(codes),
                }
            )

    id_type = emb.schema[id_col].dataType.simpleString()
    coded = emb.select(id_col, vec_col).mapInPandas(
        encode, f"nbr_id {id_type}, cell int, codes array<long>"
    )

    qrows, qmat, probe = _probe(emb, query_ids, cent, n_probe, id_col, vec_col)
    tables = {}
    for r, qv, cells in zip(qrows, qmat, probe):
        tabs = {}
        for c in cells:
            diff = books - (qv - cent[c]).reshape(m, 1, dsub)
            tabs[int(c)] = (diff * diff).sum(axis=2)
        tables[r[0]] = tabs
    bt = spark.sparkContext.broadcast(tables)

    def adc_scan(batches):
        import heapq

        import pandas as pd

        Q = bt.value
        per_q: dict = {qid: [] for qid in Q}
        for pdf in batches:
            if not len(pdf):
                continue
            nbrs = pdf["nbr_id"].to_numpy()
            cells = pdf["cell"].to_numpy()
            cmat = np.array(list(pdf["codes"]), dtype=np.int64)
            for qid, tabs in Q.items():
                for cell, tab in tabs.items():
                    mask = cells == cell
                    if not mask.any():
                        continue
                    sub = cmat[mask]
                    # accumulate subspace j in ascending order — the SAME
                    # float addition order as a per-row sequential loop
                    # (and the goldens), vectorized across rows
                    d = tab[0][sub[:, 0]].copy()
                    for j in range(1, m):
                        d += tab[j][sub[:, j]]
                    mn = nbrs[mask]
                    cand = per_q[qid]
                    for i in range(len(mn)):
                        if mn[i] != qid:
                            cand.append((float(d[i]), mn[i]))
                    # re-truncate per batch: the buffer stays O(shortlist +
                    # batch), never O(partition_rows x queries).  nsmallest
                    # == sorted[:S] on (dist, id) tuples, so results are
                    # unchanged.
                    if len(cand) > 4 * shortlist:
                        per_q[qid] = heapq.nsmallest(shortlist, cand)
        out = {"query_id": [], "nbr_id": [], "adc": []}
        for qid, cand in per_q.items():
            for d, nbr in sorted(cand)[:shortlist]:
                out["query_id"].append(qid)
                out["nbr_id"].append(nbr)
                out["adc"].append(d)
        yield pd.DataFrame(out)

    short = coded.mapInPandas(
        adc_scan, f"query_id {id_type}, nbr_id {id_type}, adc double"
    )
    short = _top_k(short, shortlist, "adc", ascending=True)
    qdf = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q")
    )
    scored = (
        short.select("query_id", "nbr_id")
        .join(
            emb.select(F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("v")),
            "nbr_id",
        )
        .join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            "nbr_id",
            cosine_similarity_col(_f64(F.col("q")), _f64(F.col("v"))).alias("cos"),
        )
    )
    return _top_k(scored, k)


def pq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    shortlist: int = 32,
    train_cap: int = 20_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-ADC ANN top-k — the memory-scale path: vectors live as m
    uint8 codes (8 bytes here vs 256 for the raw float32s), and a query
    scans CODES, not vectors.  Codebooks are trained driver-side
    (train_pq_codebooks, bounded + deterministic); encode, ADC scan and
    exact re-rank are _pq_search with one zero coarse centroid, so the
    residual is the vector itself.

    Output (query_id, nbr_id, rank) — same shape as ivf/lsh/brute.
    Recall gated in pytest; oracled against an independent numpy
    reimplementation (tools/gen_golden_pq.py)."""
    books = train_pq_codebooks(
        emb, m=m, ksub=ksub, train_cap=train_cap,
        id_col=id_col, vec_col=vec_col,
    )
    flat = np.zeros((1, m * books.shape[2]))
    return _pq_search(
        emb, query_ids, k, flat, books, 1, shortlist, id_col, vec_col
    )


def ivfpq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ksub: int = 16,
    shortlist: int = 64,
    train_cap: int = 20_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ with residual encoding — the production ANN layout
    (faiss IndexIVFPQ): a coarse quantizer routes each vector to a
    cell, PQ codes store the RESIDUAL v - centroid[cell] (residuals
    are tighter-clustered than raw vectors, so the same code budget
    quantizes finer), and a query scans only its n_probe nearest
    cells' codes with a per-cell ADC table built from the query's own
    residual.

    Coarse and PQ training share ONE bounded driver sample (the same
    deterministic Lloyd kernel, at half the corpus scans of training
    each on its own collect); the search is _pq_search.  Output
    (query_id, nbr_id, rank) like its siblings.  Oracled against an
    independent numpy reimplementation (tools/gen_golden_ivfpq.py);
    recall gated in pytest."""
    train = _train_sample(emb, train_cap, id_col, vec_col)
    if len(train) < max(n_centroids, ksub):
        raise ValueError(
            f"{len(train)} training vectors < max(n_centroids, ksub)"
        )
    cent = _coarse_lloyd(train, n_centroids)
    books = _pq_codebooks(train - cent[_nearest(train, cent)], m, ksub)
    return _pq_search(
        emb, query_ids, k, cent, books, n_probe, shortlist, id_col, vec_col
    )
