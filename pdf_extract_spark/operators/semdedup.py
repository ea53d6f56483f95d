"""SemDeDup — semantic near-duplicate pruning over an embedding column.

The corpus-curation pattern (Abbas et al. 2023, "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication"): cluster the
embedding space with a cheap coarse quantizer, then inside every cluster
drop all but one member of each group of semantically-identical items.
Unlike MinHash/SimHash (which need lexical overlap) this removes
paraphrases and re-renderings that share no n-grams.

Deterministic contract (pinned so a single-node numpy reimplementation —
tools/gen_golden_semdedup.py — is the independent oracle):

  1. TRAIN   — the shared `train_centroids` quantizer (bounded id-ordered
     hash sample, first-k init, 10 float64 Lloyd iterations, zero RNG).
  2. ASSIGN  — cell = argmin |c|^2 - 2 v.c; cent_sim = cos(v, centroid)
     on L2-normalized float64 rows.  One narrow mapInPandas pass.
  3. PRUNE   — per cell, members ordered by (cent_sim ASC, id ASC) — the
     paper's keep-the-least-central-representative convention — and member
     i is DROPPED iff max_{j earlier in the order} cos(i, j) >= 1 - eps.
     The prefix-max is a fixed blockwise kernel (B=2048 rows per GEMM) so
     memory stays O(B * cell) while flops remain the O(cell^2) the method
     costs by definition.

Scale notes (100 TB): one shuffle total — the hash exchange on `cell`
feeding applyInPandas; AQE's skew split cannot break a pandas group, so
cell-size balance comes from `n_centroids`, which must grow with the
corpus (the paper uses 50k clusters for LAION; cells of 10^3-10^4 rows
keep the per-group GEMM in tens of ms).  The trainer is the one bounded
driver collect (512 MiB guard).  Everything else is narrow.

Float determinism: the ASSIGN pass sees whatever row batches Arrow
delivers, so its kernels must be batch-shape-independent — cell
distances use the fixed-order einsum SOP loop of `similarity._nearest`
(never BLAS GEMM, whose kernel choice varies with M), and cent_sim/norms
are per-row pairwise reductions over the fixed dim axis.  The PRUNE pass operates on whole
cells in a pinned sort order, so engine and oracle GEMMs have identical
shapes and contents there and are bit-identical on the same BLAS.
Outputs are additionally floor-quantized to x1e6 longs so the driver's
value hash never sees a raw float.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import _nearest, train_centroids

# blockwise prefix-max GEMM width — part of the pinned spec (the oracle
# replicates it; same shapes => same BLAS => bit-identical floats)
PREFIX_BLOCK = 2048


def semantic_dedup(
    emb: DataFrame,
    eps: float = 0.7,
    n_centroids: int = 16,
    train_cap: int = 20_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Return one row per input vector: (vec_id, cell, cent_sim_x1m,
    max_prefix_x1m, keep).  `keep = false` marks semantic duplicates —
    members whose cosine to some earlier-ordered cell member reaches
    1 - eps.  `max_prefix_x1m` is -2000000 (cos floor sentinel) for each
    cell's first-ordered member."""
    import numpy as np

    spark = emb.sparkSession
    cent = train_centroids(
        emb, n_centroids, train_cap, id_col=id_col, vec_col=vec_col
    )
    cn = cent / np.sqrt((cent * cent).sum(axis=1, keepdims=True))
    bc = spark.sparkContext.broadcast((cent, cn))
    thr = 1.0 - eps

    def assign(batches):
        import pandas as pd

        C, Cn = bc.value
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame(
                    {"vec_id": [], "v": [], "cell": [], "cent_sim": []}
                )
                continue
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            # _nearest: the batch-shape-independent einsum kernel, never
            # BLAS GEMM, so a near-tied argmin cannot flip between layouts
            cells = _nearest(mat, C)
            norms = np.sqrt((mat * mat).sum(axis=1, keepdims=True))
            matn = mat / np.where(norms == 0.0, 1.0, norms)
            cent_sim = (matn * Cn[cells]).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col],
                    "v": matn.tolist(),
                    "cell": cells.astype("int32"),
                    "cent_sim": cent_sim,
                }
            )

    id_type = emb.schema[id_col].dataType.simpleString()
    assigned = emb.select(id_col, vec_col).mapInPandas(
        assign, f"vec_id {id_type}, v array<double>, cell int, cent_sim double"
    )

    def prune(pdf):
        import pandas as pd

        pdf = pdf.sort_values(["cent_sim", "vec_id"], kind="mergesort")
        V = np.array(list(pdf["v"]), dtype=np.float64)
        n = len(pdf)
        maxp = np.full(n, -2.0)
        for s in range(0, n, PREFIX_BLOCK):
            e = min(s + PREFIX_BLOCK, n)
            S = V[s:e] @ V[:e].T
            for li in range(e - s):
                i = s + li
                if i:
                    maxp[i] = S[li, :i].max()
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "cell": pdf["cell"],
                "cent_sim_x1m": np.floor(pdf["cent_sim"] * 1e6).astype("int64"),
                "max_prefix_x1m": np.floor(maxp * 1e6).astype("int64"),
                "keep": maxp < thr,
            }
        )

    return assigned.groupBy("cell").applyInPandas(
        prune,
        f"vec_id {id_type}, cell int, cent_sim_x1m long, "
        "max_prefix_x1m long, keep boolean",
    )
