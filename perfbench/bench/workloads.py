"""The benchmark's workloads: which queries run, on inputs of what shape.

Sizes are per copy. They are chosen so that a whole run (set-ups, passes
and checks) stays well inside the time one run may take on a 4-core
machine; the reasons for each choice are recorded in BENCHMARK.json.
"""
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    queries: tuple
    docs: int
    vectors: int
    copies: int = 1
    primes: int = 0


WORKLOADS = {
    # Capstone pipelines on a small single-file corpus: the documents file
    # is above the scan floor's 256 KB bar, every artifact fits the caches,
    # and driver-side build and planning carry much of each pass.
    "curate_small": Workload(
        queries=("e4_clean_pack", "e8_topic_mix"),
        docs=2500, vectors=1000),
    # The heavy operators on a ten-copy replica: exec-dominated kernels,
    # shuffles and the similarity joins that grow with the corpus.
    "operators_x10": Workload(
        queries=("d15_containment", "t21_semantic_decont", "t24_lang_stopwords"),
        docs=250, vectors=100, copies=10),
    # The paper's own programs through graft.Engine, plus the reference
    # queries and their map-reduce twins.
    "mapreduce_paper": Workload(
        queries=("q1_agg", "mr_q1_agg", "q2_prime_sum", "mr_prime_sum",
                 "q3_matrix_inverse", "mr_q3_matrix_inverse", "q4_wordcount",
                 "mr_q4_wordcount", "mr_paper_prime_sum"),
        docs=500, vectors=500, primes=100_000),
}
