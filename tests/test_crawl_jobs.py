"""Spark job budget of a crawl round, and no round cache left behind.

A round is bound by job latency, not data volume, so the number of
jobs it launches is the figure to guard.  Jobs are counted by job-id
range between consecutive manifest commits: the scheduler hands out ids
in sequence, so the range covers every job of the round, whichever
thread (the snapshot-write pool included) launched it.
"""
from __future__ import annotations

from sparkharvester.frontier import CrawlConfig, run_crawl
from sparkharvester.storage import SnapshotStore
from sparkharvester.synth import SynthConfig, seed_urls

# jobs from one manifest commit to the next in a politeness + bloom
# round: the min-depth collect, the per-seed collect that fills the
# round's caches, the five snapshot writes and the bloom merge.  With
# AQE every query stage is a job of its own.  The fetch stage with a
# separate link-extraction chain took 38.
ROUND_JOB_BUDGET = 23


def _persistent_rdds(spark) -> set[int]:
    return {int(k) for k in
            spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def test_round_job_budget_and_no_leaked_cache(spark, tmp_path, monkeypatch):
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    marks: list[int] = []
    commit = SnapshotStore.commit

    def counted_commit(self, meta):
        commit(self, meta)
        marks.append(int(dag.nextJobId()))

    monkeypatch.setattr(SnapshotStore, "commit", counted_commit)
    synth = SynthConfig(n_hosts=4, pages_per_host=10, fanout=6,
                        cross_host_every=0)
    root = str(tmp_path / "snap")

    def cfg(stop):
        return CrawlConfig(max_depth=1, max_pages=1000,
                           host_tokens_per_round=2, use_bloom=True,
                           checkpoint_dir=root, stop_after_round=stop)

    cached_before = _persistent_rdds(spark)
    run_crawl(spark, seed_urls(synth), synth, cfg(0))
    first = len(marks)
    out = run_crawl(spark, seed_urls(synth), synth, cfg(None),
                    resume_from=root)
    assert _persistent_rdds(spark) == cached_before

    resumed = marks[first:]
    jobs = [b - a for a, b in zip(resumed, resumed[1:])]
    assert jobs, f"no commit-to-commit round ({out.rounds} rounds)"
    assert max(jobs) <= ROUND_JOB_BUDGET, jobs
