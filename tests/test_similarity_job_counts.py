"""Spark jobs and stages per vector-similarity query and per corpus
wash (llm1-llm3, whose near-dup and SemDeDup stages read the same pair
stores), pinned from a committed JSON.

At a fixed scale factor a query's job and stage counts are exact, so a
rewrite of the similarity operators or of the wash that adds a pass
shows here as a count, not as noise in a timing. The session stores
are dropped first, so each query's first run through the ``noop`` sink
builds and caches the stores it reads; its second run, under a job
group, must match ``golden/similarity_job_counts.json``. (Spark keeps
one cache entry per plan, so another test that persists and unpersists
a frame with a store's plan leaves the store uncached and its readers
recomputing it.)

Regenerate the JSON after a deliberate plan change with:

    python tests/test_similarity_job_counts.py
"""

from __future__ import annotations

import json
import os
import pathlib
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_stack_spark.queries import all_queries, stores  # noqa: E402
from tests.conftest import SF_SMOKE, jobs_in  # noqa: E402

GOLDEN = pathlib.Path(__file__).with_name("golden") / "similarity_job_counts.json"

QUERIES = (
    "ss1_bruteforce_topk",
    "ss2_lsh_topk",
    "ss3_ivf_topk",
    "ss4_multiprobe_topk",
    "hn1_hard_negatives",
    "dd5_embedding_neardup",
    "knn1_graph_within_label",
    "knn2_graph_blocked",
    "rrf1_hybrid_retrieval",
    "pq1_adc_topk",
    "ivfpq1_topk",
    "sd1_semantic_dedup",
    "llm1_corpus_clean",
    "llm2_corpus_clean_v2",
    "llm3_corpus_clean_v3",
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def measure(spark) -> dict[str, dict[str, int]]:
    """{query: {"jobs": n, "stages": n}} for one warm noop run of each
    query; stages are the distinct stage ids of the run's jobs."""
    registry = all_queries()
    tracker = spark.sparkContext.statusTracker()
    stores.clear()
    out = {}
    for name in QUERIES:
        _noop(registry[name](spark, SF_SMOKE))  # builds the stores it reads
        group = f"similarity-counts-{name}"
        _, jobs = jobs_in(spark, group, lambda: _noop(registry[name](spark, SF_SMOKE)))
        stages = {
            s
            for j in tracker.getJobIdsForGroup(group)
            for s in tracker.getJobInfo(j).stageIds
        }
        out[name] = {"jobs": jobs, "stages": len(stages)}
    return out


def test_similarity_family_job_and_stage_counts(spark):
    want = json.loads(GOLDEN.read_text())
    got = measure(spark)
    changed = {q: {"golden": want[q], "now": got[q]} for q in want if got[q] != want[q]}
    assert not changed, changed


if __name__ == "__main__":
    from etl_stack_spark.session import get_spark

    # the same session shape as the ``spark`` fixture in conftest.py
    os.environ.setdefault("SPARK_GRAFT_DEFAULT_PARALLELISM", "4")
    session = get_spark("etl-stack-spark-tests", cpus=16)
    session.conf.set("spark.sql.shuffle.partitions", "8")
    GOLDEN.write_text(json.dumps(measure(session), indent=1) + "\n")
    print(f"wrote {GOLDEN}")
