"""analytics-session: registry queries over a stored corpus.

One query from each of the ten query modules, plus ``viz_graph_layout``,
a second reader of the session's shared threat frame, which
``a4_risk_histogram`` fills.  The tables are the engine's sf0.01 test
data, copied into ``data/sf0.01`` so that a run reads nothing outside
its checkout.

The fresh session times one cold pass in the fixed order below: each
query is ``Query.build`` plus collecting its output to the driver, so
the pass compiles the plans, starts the Python workers and fills the
shared frame.  The collected outputs are then compared with the DuckDB
oracle SQL over the same files (``tools/compare.py``), outside the
timed region.  Warm passes follow in orders drawn from the workload
seed (the shared frame is hit), at least ``MIN_WARM_PASSES``, until the
run time is used; there each query is ``Query.build`` plus a write to
the noop sink.
"""
from __future__ import annotations

import os
import random
import statistics
import time

QUERIES = [
    "a4_risk_histogram", "viz_graph_layout",            # threat frame
    "text_langid", "dedup_minhash_lsh", "x1_canonicalize", "sim_cosine_topk",
    "events_hourly", "dedup_phash_hamming", "img_caption_spam",
    "crawl_robots_precedence",
]
MODULES = ["q_intel", "q_text", "q_dedup", "q_sim", "q_rel", "q_url",
           "q_more", "q_img", "q_viz", "q_crawl"]
MIN_WARM_PASSES = 2
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                    "sf0.01")


def _queries():
    from sparkharvester import registry

    qs = registry.all_queries()
    return {n: qs[n] for n in QUERIES}


def _module(q) -> str:
    return q.build.__module__.rsplit(".", 1)[-1]


def setup(spark, seed: int, work: str) -> dict:
    """Nothing beyond the session start: the cold pass is timed."""
    from sparkharvester import registry

    # lazy oracles compute their exported artifacts at this directory
    registry.ORACLE_SF_DIR = DATA
    return {"seed": seed, "data": DATA}


def _run_pass(spark, tracer, jobs, data, qs, order, kind, errors,
              collected=None):
    """One pass: (wall time, {query: (module, build_s, exec_s, jobs)});
    a query that raises is recorded in *errors* and left out.  With
    *collected* each output is collected into it instead of written to
    the noop sink."""
    rows = {}
    with tracer.span(f"pass.{kind}", parent=None) as p:
        for name in order:
            q, mod = qs[name], _module(qs[name])
            j0 = jobs.jobs_stages()[0]
            with tracer.span("query", parent=p.sid, query=name, module=mod) as qsp:
                try:
                    with tracer.span(f"{mod}.build", parent=qsp.sid) as b:
                        df = q.build(spark, data)
                    with tracer.span(f"{mod}.exec", parent=qsp.sid) as e:
                        if collected is None:
                            df.write.format("noop").mode("overwrite").save()
                        else:
                            collected[name] = df.toPandas()
                except Exception as ex:  # noqa: BLE001 — counted as a failure
                    errors.append(f"{kind} {name}: {type(ex).__name__}: {ex}")
                    continue
            rows[name] = (mod, b.dur, e.dur, jobs.jobs_stages()[0] - j0)
    return p.dur, rows


class _Collected:
    """A collected query output, in the form ``compare`` reads."""

    def __init__(self, pdf) -> None:
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def check(data: str, qs, collected: dict) -> list[str]:
    from tools.compare import compare, duck_con

    con = duck_con(data)
    try:
        errors = []
        for name, pdf in collected.items():
            try:
                ok, msg = compare(_Collected(pdf), qs[name].oracle_sql(), con)
            except Exception as ex:  # noqa: BLE001 — counted as a failure
                ok, msg = False, f"{type(ex).__name__}: {ex}"
            if not ok:
                errors.append(f"check {name}: {msg}")
        return errors
    finally:
        con.close()


def tail(samples: list[float]) -> tuple[float, int, int]:
    """(value, percentile, n): the highest percentile of *samples*
    with ten samples above it (the maximum when there are ten or
    fewer samples)."""
    xs = sorted(samples)
    n = len(xs)
    k = max(n - 11, 0) if n > 10 else n - 1
    return xs[k], 100 * (k + 1) // n, n


def measure(spark, ctx: dict, seconds: float, traced: bool) -> dict:
    import tracing

    data = ctx["data"]
    qs = _queries()
    tracer = tracing.Tracer()
    jobs = tracing.JobCounter(spark)
    rng = random.Random(ctx["seed"])
    errors: list[str] = []
    collected: dict = {}
    cold = _run_pass(spark, tracer, jobs, data, qs, QUERIES, "cold", errors,
                     collected)
    errors += check(data, qs, collected)
    t_end = time.perf_counter() + seconds
    warm = []
    while len(warm) < MIN_WARM_PASSES or time.perf_counter() < t_end:
        order = QUERIES[:]
        rng.shuffle(order)
        warm.append(_run_pass(spark, tracer, jobs, data, qs, order, "warm",
                              errors))
    n_persisted, cached_mb = tracing.persisted(spark)
    attempted = len(QUERIES) * (1 + len(warm))
    failed = len(errors)

    steps = [b + e for _, rows in warm for _, b, e, _ in rows.values()]
    warm_s = [dur for dur, _ in warm]
    t_val, t_pct, t_n = tail(steps)
    res = {
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "e2e": {
            "pass_s": statistics.median(warm_s),
            "step_p50_s": statistics.median(steps),
            "state_mb": cached_mb,
        },
        "report": {
            "query_cold_pass_s": (cold[0], "s"),
            "query_warm_pass_s": (statistics.median(warm_s), "s"),
            "query_p50_s": (statistics.median(steps), "s"),
            f"query_tail_s (p{t_pct} of {t_n})": (t_val, "s"),
            "cached_mb": (cached_mb, "MB"),
            "warm_passes": (len(warm), "count"),
        },
        "tracer": tracer,
        "persisted_frames": n_persisted,
        "cached_mb": cached_mb,
    }
    if traced:
        res["layers"] = _layers(cold[1], [rows for _, rows in warm])
        # a pass's time less its queries' build + exec: only the loop
        res["addback_err_s"] = max(
            abs(dur - sum(b + e for _, b, e, _ in rows.values()))
            for dur, rows in [cold, *warm])
    return res


def _per_module(rows: dict, idx: int) -> dict[str, float]:
    out = dict.fromkeys(MODULES, 0.0)
    for r in rows.values():
        out[r[0]] += r[idx]
    return out


def _layers(cold: dict, warm: list[dict]) -> dict:
    layers = {}
    build = [_per_module(w, 1) for w in warm]
    exe = [_per_module(w, 2) for w in warm]
    njobs = [_per_module(w, 3) for w in warm]
    cold_exec = _per_module(cold, 2)
    for m in MODULES:
        warm_exec = statistics.median(e[m] for e in exe)
        layers[f"{m}.build_s"] = statistics.median(b[m] for b in build)
        layers[f"{m}.exec_s"] = warm_exec
        layers[f"{m}.fill_s"] = cold_exec[m] - warm_exec
        layers[f"{m}.jobs"] = statistics.median(j[m] for j in njobs)
    return layers
