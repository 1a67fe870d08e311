"""The benchmark's workloads: which registry ops one pass runs, and why.

Two workloads, chosen so that each mechanism is exercised by one and
bypassed by the other. ``portrait_batch`` runs only in the JVM: no pins, no
Python workers, no streaming and no index files, so it is the control for
changes to those layers. ``curation_stream_ann`` takes one op from each of
the curation, text, ANN and streaming families: Python workers, eager pins,
the worker shingle cache and the RocksDB state store. Between them every op
module the program has a layer metric for is measured. The index lifecycle
verbs (append, delete, compact, retrain) are left out: each rebuilds its
base index and costs ~4 s a call at this scale, more than a run can afford.

Every op is checked. Ops with a DuckDB oracle must hash-match it; the ANN
read, which has none, must reach the recall@5 floor the test suite uses,
against the exact ``sim_cosine_knn`` neighbours from that op's DuckDB oracle.
"""

from __future__ import annotations

from dataclasses import dataclass

EXACT_KNN = "sim_cosine_knn"


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    ops: tuple[str, ...]
    # op -> minimum recall@5 against EXACT_KNN's result
    recall_gates: tuple[tuple[str, float], ...] = ()
    # clear the Python workers' shingle cache before each pass, untimed
    cold_worker_cache: bool = False
    # untimed passes after the checked warm pass (row counts still checked),
    # so that the timed passes run after the JVM's JIT has settled rather
    # than while it compiles (on portrait_batch, pass time still fell ~10%
    # from the third to the sixth pass after the checked one); a workload
    # whose passes are too long for one run skips them
    warmup_passes: int = 0


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "portrait_batch",
            "the paper's tag refresh (RFM and PSM tags, top-k per group, a big join, groupBy, "
            "the events scan) in the JVM only: the control for Python, pin, stream and index changes",
            (
                "tag_rfm",
                "tag_psm",
                "win_topk_per_group",
                "join_sortmerge_big",
                "agg_groupby_basic",
                "scan_events_ns",
            ),
            warmup_passes=4,
        ),
        Workload(
            "curation_stream_ann",
            "MinHash dedup, text cleaning and BM25 keywords, an IVF kNN read and a RocksDB stream "
            "replay: Python workers, pins, the shingle cache, state stores",
            (
                "dedup_near_minhash",
                "doc_clean_pipeline",
                "text_bm25_keywords",
                "sim_knn_ivf_kmeans",
                "stream_funnel_rocksdb",
            ),
            recall_gates=(("sim_knn_ivf_kmeans", 0.45),),
            cold_worker_cache=True,
        ),
    )
}
