"""Workloads: which registry rows a run feeds, in order, and how long one
warm pass takes nominally. The nominal time only fixes how many warm
passes a run makes for a given --seconds, so that every run of a workload
has the same number of samples.
"""
import math


class Workload:
    def __init__(self, rows, warm_pass_s, stages, why):
        self.rows = rows
        self.warm_pass_s = warm_pass_s
        self.stages = stages    # traced runs also time ModelPipeline's stages
        self.why = why

    def warm_passes(self, seconds):
        n = max(3, round(seconds / self.warm_pass_s))
        return max(n, math.ceil(11 / len(self.rows)))  # op_tail_s needs 11 samples


WORKLOADS = {}

WORKLOADS["topic_model"] = Workload(
    rows=["m01_doc_term_counts", "m02_tfidf_quanteda", "m03_top_vocab",
          "m06_kmeans_stats", "m08_cluster_merge",
          "m12_kmeans_invariants", "f01_extract_fields", "f03_doc_labels"],
    warm_pass_s=3.8, stages=True,
    why="the paper's pipeline: DFM and TF-IDF memo builds, MLlib K-means fit, merge and labels")

WORKLOADS["data_plane"] = Workload(
    rows=["d31_passage_janitor_cycle", "e28_janitor_cycle", "s02_stream_hourly",
          "s05_stream_dedup", "s03_chunk_roundtrip", "q02_revenue_by_nation",
          "q35_asof_join", "q23_salted_join"],
    warm_pass_s=5.4, stages=False,
    why="store janitor cycles with an IVF quantizer fit, streaming drains and relational joins")
