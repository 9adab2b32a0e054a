"""crawl-polite: an interrupted and resumed politeness crawl.

48 seed hosts, depth 1, a per-host budget of 3 admissions per round and
the bloom seen-sketch.  Links stay on their own host, so every host
gets the same load whatever the seed, and depth 1 spreads over two
rounds: three rounds in all.  The crawl is stopped after round 0
(``stop_after_round``) and finished with ``resume_from``, so round 1
carries the resume reads and round 2 runs from one manifest commit to
the next.  Each round handles tens of pages, so the fixed cost of a
round (jobs, collects to the Spark driver, the five snapshot writes,
the sketch merge, the delta reads) is what the workload measures.

The workload seed is the ``SynthConfig.seed`` of the synthetic host
graph.  Correctness: with no page cap, politeness only spreads a depth
over rounds, so the per-seed seen set, the per-seed content set and the
counters must equal the sequential oracle's (``oracle.crawl_oracle``).
"""
from __future__ import annotations

import contextlib
import os
import statistics
import shutil
import time

N_SEEDS = 48
HOST_TOKENS = 3
MAX_DEPTH = 1
MAX_PAGES = 1000          # no cap: the oracle comparison is exact
STOP_AFTER_ROUND = 0
PAGES_PER_HOST = 40
FANOUT = 6
# no cross-host links: with them the busiest host, and so the number
# of rounds, changes from seed to seed (4 or 5 rounds at 3 tokens)
CROSS_HOST_EVERY = 0

# SnapshotStore.commit is hooked separately: it also closes the round
STORAGE_CALLS = ["write", "write_delta", "read", "read_deltas",
                 "load_manifest"]
SEEN_CALLS = ["build_bloom", "save_sketch", "load_sketch"]


def _configs(seed: int, root: str):
    from sparkharvester.frontier import CrawlConfig
    from sparkharvester.synth import SynthConfig

    synth = SynthConfig(n_hosts=N_SEEDS, pages_per_host=PAGES_PER_HOST,
                        fanout=FANOUT, cross_host_every=CROSS_HOST_EVERY,
                        seed=seed)

    def cfg(stop):
        return CrawlConfig(max_depth=MAX_DEPTH, max_pages=MAX_PAGES,
                           host_tokens_per_round=HOST_TOKENS, use_bloom=True,
                           checkpoint_dir=root, stop_after_round=stop)

    return synth, cfg


def interrupted_crawl(spark, seed: int, root: str, on_call):
    """Crawl until ``STOP_AFTER_ROUND``, then resume to the end.
    ``on_call(kind)`` is a context manager around each ``run_crawl``."""
    from sparkharvester.frontier import run_crawl
    from sparkharvester.synth import seed_urls

    synth, cfg = _configs(seed, root)
    seeds = seed_urls(synth)
    with on_call("first"):
        run_crawl(spark, seeds, synth, cfg(STOP_AFTER_ROUND))
    with on_call("resume"):
        out = run_crawl(spark, seeds, synth, cfg(None), resume_from=root)
    return synth, out


def _seeds_by_hash(seen: set, synth) -> dict[str, set[int]]:
    """For each content hash, the seeds under which the oracle fetched
    a page with that content (ok and not blacklisted): the seeds whose
    copy can win the hash's dedup."""
    import hashlib

    from sparkharvester.constants import DEFAULT_BLACKLIST_PATHS
    from sparkharvester.oracle import is_blacklisted_py
    from sparkharvester.synth import synth_fetch_page

    seeds: dict[str, set[int]] = {}
    for sid, url in seen:
        f = synth_fetch_page(url, synth)
        if f["ok"] and not is_blacklisted_py(url, DEFAULT_BLACKLIST_PATHS):
            h = hashlib.sha256(
                f["text"].encode("utf-8", errors="replace")).hexdigest()
            seeds.setdefault(h, set()).add(sid)
    return seeds


def check(synth, out) -> list[str]:
    """Differences between the crawl and the sequential oracle."""
    from sparkharvester.oracle import crawl_oracle
    from sparkharvester.synth import seed_urls

    ref = crawl_oracle(seed_urls(synth), synth, max_depth=MAX_DEPTH,
                       max_pages=MAX_PAGES)
    errors = []
    seen = {(r["seed_id"], r["canon_url"]) for r in out.seen_urls.collect()}
    if seen != ref.seen_urls:
        errors.append(f"seen set: {len(seen)} rows vs oracle "
                      f"{len(ref.seen_urls)}")
    pairs = {(r["seed_id"], r["content_hash"]) for r in
             out.pages.select("seed_id", "content_hash").collect()}
    ref_pairs = {(r["seed_id"], r["content_hash"]) for r in ref.results}
    # content fetched under one seed only must be filed under that seed;
    # when several seeds fetched it, politeness can spread the group over
    # rounds and the winner (chosen per round) can move between them
    single = {h for h, sids in _seeds_by_hash(ref.seen_urls, synth).items()
              if len(sids) == 1}
    if {p for p in pairs if p[1] in single} != \
            {p for p in ref_pairs if p[1] in single}:
        errors.append("(seed, content) pairs of single-seed content differ")
    if {h for _, h in pairs} != {h for _, h in ref_pairs}:
        errors.append(f"content hashes: {len({h for _, h in pairs})} vs "
                      f"oracle {len({h for _, h in ref_pairs})}")
    if out.stats != ref.stats:
        errors.append(f"stats {out.stats} vs oracle {ref.stats}")
    if out.rounds <= STOP_AFTER_ROUND + 1:
        errors.append(f"no round after the resume point ({out.rounds} rounds)")
    return errors


class CrawlRecorder:
    """Round spans from the manifest commits, plus (traced) per-call
    spans and job/stage/task counts per round.  A round span's
    ``opened`` says where it starts: ``commit`` (the previous round's
    manifest commit), ``start`` (entry to a fresh ``run_crawl``) or
    ``resume`` (entry to a resuming ``run_crawl``, so the round also
    carries the resume reads)."""

    def __init__(self, spark, tracer, traced: bool) -> None:
        from tracing import JobCounter

        self.tracer = tracer
        self.traced = traced
        self.jobs = JobCounter(spark)
        self.rounds = []          # closed round spans
        self.calls = []           # run_crawl spans
        self._mark = None         # (jobs, stages, tasks) at round start

    def like_rounds(self) -> list:
        """Rounds from one manifest commit to the next."""
        return [r for r in self.rounds if r.attrs["opened"] == "commit"]

    def resume_rounds(self) -> list:
        return [r for r in self.rounds if r.attrs["opened"] == "resume"]

    def _counts(self):
        if self.traced:
            return self.jobs.snapshot()
        return (*self.jobs.jobs_stages(), 0)

    def _open_round(self, t: float, opened: str) -> None:
        sp = self.tracer.open("frontier.round", start=t,
                              parent=self.calls[-1].sid, opened=opened)
        self.tracer.current = sp.sid
        self._mark = self._counts()

    @contextlib.contextmanager
    def call(self, kind: str):
        sp = self.tracer.open("frontier.run_crawl", parent=None, call=kind)
        self.calls.append(sp)
        self._open_round(sp.start, "resume" if kind == "resume" else "start")
        try:
            yield
        finally:
            end = time.perf_counter()
            tail = self.tracer.spans[self.tracer.current]
            tail.name, tail.end = "frontier.finish", end
            self.tracer.current = None
            sp.end = end

    def committed(self) -> None:
        """Called right after each manifest commit."""
        t = time.perf_counter()
        sp = self.tracer.spans[self.tracer.current]
        sp.end = t
        jobs, stages, tasks = self._counts()
        sp.attrs.update(jobs=jobs - self._mark[0], stages=stages - self._mark[1],
                        tasks=tasks - self._mark[2])
        self.rounds.append(sp)
        self._open_round(t, "commit")


def _install(stack, spark, tracer, rec: CrawlRecorder, counters) -> None:
    """Wrap the layer entry points the crawl calls.  Storage spans
    carry the files and bytes written or the delta dirs read."""
    from sparkharvester import frontier
    from sparkharvester import urlnorm
    from sparkharvester.storage import SnapshotStore

    import tracing

    orig_commit = SnapshotStore.commit

    def commit(self, meta):
        if rec.traced:
            with tracer.span("storage.commit"):
                orig_commit(self, meta)
        else:
            orig_commit(self, meta)
        rec.committed()

    SnapshotStore.commit = commit
    stack.callback(setattr, SnapshotStore, "commit", orig_commit)
    if not rec.traced:
        return

    def storage_done(name, args, out, sp):
        if name in ("write", "write_delta"):
            sp.attrs["files"], sp.attrs["bytes"] = tracing.dir_bytes(out)
        elif name == "read_deltas":
            store, _spark, table, _schema, upto = args[:5]
            d = os.path.join(store.root, table)
            sp.attrs["delta_dirs"] = sum(
                1 for n in (os.listdir(d) if os.path.isdir(d) else [])
                if n.startswith("delta-r") and int(n[7:]) <= upto)

    tracing.wrap_calls(tracer, stack, SnapshotStore, STORAGE_CALLS, "storage",
                       storage_done)
    tracing.wrap_calls(tracer, stack, frontier, SEEN_CALLS, "seen")
    tracing.wrap_calls(tracer, stack, frontier, ["admit_per_host"], "frontier")
    for name, new in (
        ("make_fetch_stage",
         tracing.counted_fetch_stage(frontier.make_fetch_stage, counters)),
        ("urljoin_udf", tracing.counted_column_udf(
            frontier.urljoin_udf, urlnorm._UDF_CACHE, "urljoin", counters)),
        ("canonicalize_udf", tracing.counted_column_udf(
            frontier.canonicalize_udf, urlnorm._UDF_CACHE, "canon", counters)),
        ("bloom_probe_udf",
         tracing.counted_probe_udf(frontier.bloom_probe_udf, counters)),
    ):
        stack.callback(setattr, frontier, name, getattr(frontier, name))
        setattr(frontier, name, new)


def setup(spark, seed: int, work: str) -> dict:
    """Nothing beyond the session start.  The warm-up is round 0 of
    the first crawl, which ``measure`` counts as set-up: a separate
    warm-up crawl would cost as much as the timed one."""
    return {"seed": seed, "work": work}


def measure(spark, ctx: dict, seconds: float, traced: bool) -> dict:
    """Crawl for at least *seconds* (whole crawls; at least one), check
    each against the oracle, and return the figures of the run."""
    import tracing

    seed, work = ctx["seed"], ctx["work"]
    tracer = tracing.Tracer()
    rec = CrawlRecorder(spark, tracer, traced)
    counters = tracing.WorkerCounters(spark) if traced else None
    passes, pages, state_bytes, errors = [], 0, 0, []
    attempted = failed = n_persisted = 0
    cached_mb = warmup_s = 0.0
    t_end = time.perf_counter() + seconds
    with contextlib.ExitStack() as stack:
        _install(stack, spark, tracer, rec, counters)
        while attempted == 0 or time.perf_counter() < t_end:
            root = os.path.join(work, f"crawl-{attempted}")
            attempted += 1
            try:
                t0 = time.perf_counter()
                synth, out = interrupted_crawl(spark, seed, root, rec.call)
                t1 = time.perf_counter()
                if not passes:     # the process's first round is set-up
                    warmup_s = rec.rounds[0].end - t0
                passes.append(t1 - t0 - (warmup_s if not passes else 0.0))
                state_bytes += tracing.dir_bytes(root)[1]
                pages += out.stats["pages_crawled"]
                problems = check(synth, out)
            except Exception as e:  # noqa: BLE001 — counted as a failure
                problems = [f"crawl raised {type(e).__name__}: {e}"]
            errors += problems
            failed += bool(problems)
            shutil.rmtree(root, ignore_errors=True)
            frames, mb = tracing.persisted(spark)   # must be 0 after a crawl
            n_persisted, cached_mb = max(n_persisted, frames), max(cached_mb, mb)
    if not passes:
        raise RuntimeError(f"no crawl completed: {errors}")
    timed = rec.like_rounds()
    if not timed:
        raise RuntimeError(f"no round ran from commit to commit: {errors}")
    round_s = [r.dur for r in timed]
    res = {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "warmup_s": warmup_s,
        "e2e": {
            "pass_s": statistics.median(passes),
            "step_p50_s": statistics.median(round_s),
            "state_mb": state_bytes / 1e6 / len(passes),
        },
        "report": {
            "crawl_pages_per_s": (pages / (sum(passes) + warmup_s), "1/s"),
            "round_p50_s": (statistics.median(round_s), "s"),
            "first_round_s": (rec.rounds[0].dur, "s"),
            "resume_round_s": (statistics.median(
                r.dur for r in rec.resume_rounds()), "s"),
            "snapshot_bytes_per_page": (state_bytes / max(pages, 1), "B"),
            "rounds": (len(rec.rounds), "count"),
            "commit_to_commit_rounds": (len(timed), "count"),
            "pages": (pages, "count"),
        },
        "tracer": tracer,
        "persisted_frames": n_persisted,
        "cached_mb": cached_mb,
    }
    if traced:
        layers = _layers(tracer, rec, counters.values(), pages)
        res["layers"] = layers
        res["addback_err_s"] = addback_error(tracer, timed, layers)
    return res


def addback_error(tracer, timed: list, layers: dict) -> float:
    """How far the printed round figures miss the timed rounds: the
    rounds' total time less round self time and the storage and seen
    figures (non-zero when two of those calls overlap, so that a time
    is counted twice), plus the most by which a storage or seen span
    leaks out of the round or finish it belongs to."""
    parts = (layers["frontier.round_self_s"] + layers["storage.write_wall_s"]
             + layers["storage.read_s"] + layers["storage.commit_s"]
             + layers["seen.sketch_s"])
    err = abs(sum(r.dur for r in timed) - parts)
    leak = 0.0
    for sp in tracer.spans:
        if sp.name in ("frontier.round", "frontier.finish"):
            for c in tracer.children(sp):
                leak = max(leak, sp.start - c.start, c.end - sp.end)
    return err + leak


READS = ("storage.read", "storage.read_deltas", "storage.load_manifest")


def _layers(tracer, rec: CrawlRecorder, acc: dict, pages: int) -> dict:
    """Per-layer figures.  Round, storage and seen figures cover the
    commit-to-commit rounds (the reads of the resume rounds and of the
    finish are reported on their own); worker counts cover whole
    crawls."""
    import tracing

    rounds = rec.like_rounds()
    self_s = write_wall = 0.0
    sums: dict[str, float] = {}
    tally = {"files": 0, "bytes": 0, "delta_dirs": 0}
    for r in rounds:
        inner = tracer.children(r, "storage.") + tracer.children(r, "seen.")
        self_s += r.dur - tracing.union_s([(s.start, s.end) for s in inner])
        write_wall += tracing.union_s([(s.start, s.end) for s in inner
                                       if s.name.startswith("storage.write")])
        for s in inner:
            sums[s.name] = sums.get(s.name, 0.0) + s.dur
            for k in tally:
                tally[k] += s.attrs.get(k, 0)

    def reads(parents) -> float:
        return sum(s.dur for p in parents for s in tracer.children(p, "storage.")
                   if s.name in READS)

    finish = [s for s in tracer.spans if s.name == "frontier.finish"]
    n = max(len(rounds), 1)
    probe_rows = acc["probe_rows"]
    return {
        "frontier.jobs_per_round": sum(r.attrs["jobs"] for r in rounds) / n,
        "frontier.stages_per_round": sum(r.attrs["stages"] for r in rounds) / n,
        "frontier.tasks_per_round": sum(r.attrs["tasks"] for r in rounds) / n,
        "frontier.round_self_s": self_s,
        "frontier.finish_s": sum(f.dur for f in finish),
        "synth.fetch_rows": acc["fetch_rows"],
        "synth.fetch_rows_per_page": acc["fetch_rows"] / max(pages, 1),
        "synth.fetch_busy_s": acc["fetch_busy_s"],
        "urlnorm.udf_rows": acc["udf_rows"],
        "urlnorm.udf_busy_s": acc["udf_busy_s"],
        "seen.sketch_s": sum(v for k, v in sums.items() if k.startswith("seen.")),
        "seen.probe_rows": probe_rows,
        "seen.maybe_frac": acc["probe_maybe"] / probe_rows if probe_rows else 0.0,
        "storage.write_wall_s": write_wall,
        "storage.read_s": sum(sums.get(k, 0.0) for k in READS),
        "storage.delta_dirs_read": tally["delta_dirs"],
        "storage.commit_s": sums.get("storage.commit", 0.0),
        "storage.files_written": tally["files"],
        "storage.bytes_written": tally["bytes"],
        "storage.resume_read_s": reads(rec.resume_rounds()),
        "storage.finish_read_s": reads(finish),
    }
