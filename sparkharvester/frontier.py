"""Distributed BFS crawl engine: URL frontier + fetch scheduler (I1-I7).

Spark-first re-expression of the reference's crawl loop
(crawler.py:214-273, 275-321): each BFS depth level is ONE Spark job
over DataFrames, with

 - seed validation split (crawler.py:293-300);
 - visited gate as a (bloom-prefiltered) LEFT ANTI JOIN against the
   per-seed seen table (crawler.py:240-242 / D2);
 - blacklist + robots predicates BEFORE the fetch stage — the plan is
   authored filter→fetch because Catalyst will not reorder around an
   opaque pandas UDF (SURVEY.md §4.1);
 - ONE vectorized mapInPandas stage that fetches (synthetic,
   deterministic) and extracts each ok page's distinct canonical links
   (urljoin + exact urllib canonicalization, urlnorm.extract_links) in
   the same Python pass, with salted host-hash repartitioning so hot
   hosts spread across tasks (north rule); the next frontier explodes
   the popped pages' link arrays;
 - global content dedup via a window over content_hash in canonical
   (canon_url, seed_id) order (crawler.py:184-191, normalized per
   SURVEY.md §7.4.1);
 - per-seed page caps via a cumulative-success window reproducing the
   reference's ``while pages < max_pages`` pop loop (crawler.py:237);
 - per-host politeness: a virtual-time token bucket bounds admissions
   per host per round (replaces the per-session crawl_delay sleep,
   crawler.py:264, per the north rule) — virtual time keeps results
   deterministic;
 - per-round, per-partition lineage metrics (CrawlStats analog,
   crawler.py:46-60) appended to a metrics table;
 - one snapshot commit per round → exact resume (north rule).

Scale design (10^10-URL frontier, 1000 executors):
 - frontier/seen state lives in parquet snapshots, re-read each round —
   this truncates logical-plan lineage (iterative DataFrame loops
   otherwise grow the plan unboundedly) and doubles as the checkpoint;
 - the only big shuffles per round are the seen anti-join (bloom-
   prefiltered, keys uniform by construction) and the next-frontier
   distinct;
   the dedup/cap windows partition by content_hash / seed_id;
 - AQE handles residual skew; the salt column defuses hot hosts at the
   fetch stage where ordering doesn't matter.
"""
from __future__ import annotations

import os
import tempfile
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .constants import (
    DEFAULT_BLACKLIST_PATHS,
    DEFAULT_CRAWL_DELAY,
    DEFAULT_MAX_DEPTH,
    DEFAULT_MAX_PAGES,
)
from .oracle import is_valid_onion_py
from .robots import attach_robots_blocked, normalize_rules
from .seen import (
    anti_join_with_probe,
    bloom_probe_udf,
    build_bloom,
    build_cuckoo,
    cuckoo_probe_udf,
    load_sketch,
    save_sketch,
)
from .seq import attach_global_seq, attach_grouped_prefix
from .storage import SnapshotStore
from .synth import SynthConfig, make_fetch_stage
from .urlnorm import (
    base_domain,
    canonicalize_one,
    extract_links,
    is_blacklisted,
    url_hash64,
    url_path,
)
# not used by the crawl since link extraction moved into the fetch
# stage; kept importable here because perfbench's traced run wraps
# these names on this module to count Arrow UDF rows
from .urlnorm import canonicalize_udf, urljoin_udf  # noqa: F401


@dataclass
class CrawlConfig:
    max_depth: int = DEFAULT_MAX_DEPTH
    max_pages: int = DEFAULT_MAX_PAGES
    crawl_delay: float = DEFAULT_CRAWL_DELAY
    blacklist: list[str] = dc_field(default_factory=lambda: list(DEFAULT_BLACKLIST_PATHS))
    use_bloom: bool = False
    use_cuckoo: bool = False   # cuckoo-filter prefilter (supports delete)
    bloom_fpp: float = 0.01
    host_tokens_per_round: int | None = None   # None = politeness parity mode
    max_retries: int = 0   # >0: failed fetches re-enqueue with not_before
    # host -> robots rules: each entry is a str (legacy Disallow
    # prefix) or an (pattern, allow) tuple with RFC 9309 '*'/'$'
    # pattern syntax (robots.py)
    robots: dict[str, list] | None = None
    salt_buckets: int = 8
    run_id: str = "run-1"
    checkpoint_dir: str | None = None
    stop_after_round: int | None = None   # I6 analog: simulate interruption
    # Cooperative stop request (reference gui.py:928-931 _on_stop /
    # :1004 stop_event.is_set): a path polled BETWEEN rounds — the
    # distributed analog of "finish the current page, then save".  When
    # the file exists after a round's snapshot commit the crawl exits
    # with that round's partial-but-committed state; the run is
    # resumable from the same checkpoint_dir (exact-resume contract).
    stop_file: str | None = None
    auto_robots: bool = False   # fetch-once-per-host robots cache table
    # auto_robots rule source: False = legacy Disallow-prefix synth
    # (bit-stable with earlier rounds), True = RFC 9309 mixed
    # Allow/Disallow wildcard rule sets (synth.robots_rules_for_host)
    rfc_robots: bool = False
    # 10^10-scale option: per-seed cap/pop windows via range-partitioned
    # prefix sums (seq.attach_grouped_prefix) instead of one window task
    # per seed — identical results (pytest-asserted); default off because
    # the extra checkpoint+stats job per round only pays when a single
    # seed's round candidates outgrow one task (cf. the bloom toggle)
    scalable_cap_window: bool = False


@dataclass
class CrawlOutputs:
    pages: DataFrame
    metrics: DataFrame
    seen_urls: DataFrame
    store_root: str
    rounds: int
    stats: dict = dc_field(default_factory=dict)


SEEN_SCHEMA = "seed_id int, canon_url string"
HASHES_SCHEMA = "content_hash string"
PAGES_SCHEMA = (
    "seed_id int, url string, title string, text string, "
    "content_hash string, depth int, crawl_time double, "
    "links_found int, site string, crawled_at double"
)
METRICS_SCHEMA = (
    "run_id string, round int, depth int, partition_id int, pages_crawled long, "
    "pages_failed long, pages_skipped long, pages_deduplicated long"
)
# one row per (host, rule); a host with an empty robots.txt gets a
# single NULL-pattern row so the cache still records the fetch.
# allow=False rows are Disallow rules (the legacy prefix sets map to
# these); allow=True rows are RFC 9309 Allow carve-outs.
ROBOTS_SCHEMA = "host string, pattern string, allow boolean"


def _make_robots_fetch(seed: int, rfc: bool = False):
    """mapInPandas robots 'fetch' (deterministic synth) for uncached
    hosts.  ``rfc=True`` fetches mixed Allow/Disallow wildcard rule
    sets (synth.robots_rules_for_host); default stays the legacy
    Disallow-prefix generator so existing runs are bit-stable."""
    import pandas as pd

    from .synth import robots_for_host, robots_rules_for_host

    def fetch(batches):
        for pdf in batches:
            rows = []
            for host in pdf["host"]:
                if rfc:
                    rules = robots_rules_for_host(host, seed)
                else:
                    rules = [(p, False) for p in robots_for_host(host, seed)]
                rows.extend((host, p, a) for p, a in rules)
                if not rules:
                    rows.append((host, None, None))
            yield pd.DataFrame(rows, columns=["host", "pattern", "allow"])

    return fetch


FRONTIER_SCHEMA = ("seed_id int, canon_url string, depth int, "
                   "retry_no int, not_before int")


def _empty_frontier(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], FRONTIER_SCHEMA)


# the fetch + link-extraction stage's output: FETCH_SCHEMA with the raw
# hrefs replaced by the page's distinct canonical links
FETCHED_SCHEMA = (
    "canon_url string, seed_id int, depth int, retry_no int, ok boolean, "
    "attempts int, title string, text string, latency double, "
    "fetch_partition int, blacklisted boolean, links array<string>, "
    "links_found int"
)
_FETCH_INPUT = ["canon_url", "seed_id", "depth", "retry_no"]


def _make_fetch_extract(fetch):
    """mapInPandas over the gated candidates: ONE Python pass per row.

    Blacklisted rows come out as skipped rows without being fetched
    (crawler.py:167-171: the blacklist is checked before paying for
    the fetch).  The rest go through *fetch* (a
    ``make_fetch_stage`` function), and each ok page's hrefs become its
    distinct canonical links (``urlnorm.extract_links``) in the same
    pass, so the links never cross back to the JVM as raw hrefs.
    """
    import pandas as pd

    def run(batches):
        for pdf in batches:
            bl = pdf["blacklisted"].to_numpy(dtype=bool)
            parts = []
            if not bl.all():
                for out in fetch(iter([pdf.loc[~bl, _FETCH_INPUT]])):
                    out["links"] = [
                        extract_links(u, h) if ok else []
                        for u, h, ok in zip(out["canon_url"], out["hrefs"],
                                            out["ok"])]
                    parts.append(out.drop(columns="hrefs")
                                 .assign(blacklisted=False))
            if bl.any():
                parts.append(pdf.loc[bl, _FETCH_INPUT].assign(
                    ok=False, attempts=0, title="", text="", latency=0.0,
                    fetch_partition=-1, blacklisted=True,
                    links=[[]] * int(bl.sum())))
            if parts:
                out = pd.concat(parts, ignore_index=True)
                out["links_found"] = out["links"].map(len)
                yield out

    return run


def _cache_coalescing(df: DataFrame) -> DataFrame:
    """``df.cache()``, letting AQE still coalesce the cached plan's
    shuffle partitions as it would for an uncached frame.  Spark keeps
    a cached plan's output partitioning by default, so a small frame
    would keep every shuffle partition (and write one frontier file per
    non-empty one)."""
    conf = df.sparkSession.conf
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    old = conf.get(key)
    conf.set(key, "true")
    try:
        return df.cache()
    finally:
        conf.set(key, old)


def admit_per_host(cand: DataFrame, tokens: int, buckets: int) -> DataFrame:
    """Per-host politeness admission: mark the first *tokens* rows per
    host in canonical ``(canon_url, seed_id)`` order as admitted; the
    rest are deferred.

    Two-phase top-N (VERDICT r2 #1) so no single task ever sorts a hot
    host's full candidate list:

     1. LOCAL: ``row_number`` per ``(host, salt)`` — a host with 10^8
        candidates in a round spreads over *buckets* parallel sorts —
        keeping ≤ *tokens* rows per bucket;
     2. GLOBAL: the exact per-host window runs over the ≤
        tokens×buckets survivors only, so its per-host partition is
        BOUNDED by tokens×buckets rows regardless of skew.

    The admitted set is identical to the single-window top-*tokens*:
    any row in the true per-host top-*tokens* ranks ≤ tokens inside its
    own bucket (dropping rows never raises a rank), so it survives
    phase 1; and phase 2 ranks over a subset, so rank₂ ≤ rank_global —
    admitted.  Conversely a row with rank_global > tokens sees all true
    top-*tokens* rows (which all survive phase 1) ahead of it in phase
    2, so rank₂ > tokens — deferred.

    Returns the input rows with a boolean ``admitted`` column, so one
    frame carries both sides (the crawl caches it: the fetch reads the
    admitted rows, the frontier write the deferred ones).
    """
    order = [F.col("canon_url"), F.col("seed_id")]
    pre = cand.withColumn(
        "__asalt", F.pmod(url_hash64(F.col("canon_url")), F.lit(buckets))
    )
    w_local = Window.partitionBy("host", "__asalt").orderBy(*order)
    pre = pre.withColumn("__lrn", F.row_number().over(w_local))
    w_host = Window.partitionBy("host").orderBy(*order)
    ranked = pre.filter(F.col("__lrn") <= tokens).withColumn(
        "admitted", F.row_number().over(w_host) <= tokens)
    return (
        pre.filter(F.col("__lrn") > tokens)
        .withColumn("admitted", F.lit(False))
        .unionByName(ranked)
        .drop("__asalt", "__lrn")
    )


def run_crawl(
    spark: SparkSession,
    seeds: list[str],
    synth_cfg: SynthConfig,
    cfg: CrawlConfig | None = None,
    known_urls: list[str] | None = None,
    resume_from: str | None = None,
) -> CrawlOutputs:
    """Run the full BFS crawl; returns result/metrics/seen DataFrames.

    ``resume_from``: a SnapshotStore root from a previous (possibly
    interrupted) run — the crawl continues from the last committed
    round with identical results (north-rule exact resume).
    """
    cfg = cfg or CrawlConfig()
    root = resume_from or cfg.checkpoint_dir or tempfile.mkdtemp(prefix="crawl_snap_")
    store = SnapshotStore(root)

    manifest = store.load_manifest() if resume_from else None
    init_seen_pending = None   # folded into round-0's seen delta
    if manifest is not None:
        if known_urls:
            raise ValueError(
                "known_urls cannot be combined with resume_from: the seen "
                "set is restored from the snapshot"
            )
        if manifest.get("synth_seed") != synth_cfg.seed:
            raise ValueError(
                f"resume seed mismatch: snapshot was written with synth seed "
                f"{manifest.get('synth_seed')}, resuming with {synth_cfg.seed}"
            )
        for fld in ("max_depth", "max_pages"):
            if fld in manifest and manifest[fld] != getattr(cfg, fld):
                raise ValueError(
                    f"resume config mismatch: snapshot {fld}={manifest[fld]}, "
                    f"resuming with {getattr(cfg, fld)}"
                )
        start_round = manifest["round"] + 1
        counts = {int(k): v for k, v in manifest["counts"].items()}
        pops = {int(k): v for k, v in manifest["pops"].items()}
        n_seeds = manifest["n_seeds"]
        frontier = store.read(spark, "frontier", manifest["round"],
                              FRONTIER_SCHEMA)
        seen = store.read_deltas(spark, "seen_urls", SEEN_SCHEMA,
                                 manifest["round"])
        seen_hashes = store.read_deltas(spark, "seen_hashes", HASHES_SCHEMA,
                                        manifest["round"])
        # running seen-set size, carried in the manifest so bloom/cuckoo
        # sizing never needs a per-round full scan (VERDICT r2 #7);
        # one count() fallback for snapshots written before this field
        seen_total = manifest.get("seen_total")
        if seen_total is None:
            seen_total = seen.count()
        # incremental seen-sketch (round 6): resume the merged sketch
        # from its sidecar; absent/corrupt ⇒ None and the first probing
        # round rebuilds from the full seen table (back-compat)
        loaded = load_sketch(root, manifest["round"]) \
            if (cfg.use_bloom or cfg.use_cuckoo) else None
        sketch, sketch_capacity = loaded if loaded else (None, 0)
    else:
        start_round = 0
        valid = [u for u in seeds if is_valid_onion_py(u)]   # crawler.py:293
        n_seeds = len(valid)
        counts = {i: 0 for i in range(n_seeds)}
        pops = {i: 0 for i in range(n_seeds)}
        known = [canonicalize_one(u) for u in (known_urls or [])]
        frontier = spark.createDataFrame(
            [(i, canonicalize_one(u), 0, 0, 0) for i, u in enumerate(valid)],
            FRONTIER_SCHEMA,
        )
        seen = spark.createDataFrame(
            [(i, u) for i in range(n_seeds) for u in known], SEEN_SCHEMA,
        )
        init_seen_pending = seen
        seen_hashes = spark.createDataFrame([], HASHES_SCHEMA)
        seen_total = n_seeds * len(known)
        sketch, sketch_capacity = None, 0

    fetch_stage = make_fetch_stage(synth_cfg)
    robots = cfg.robots or {}

    # In parity mode (host_tokens_per_round=None) one round == one BFS depth.
    # In politeness mode, token-deferred rows re-enter the frontier at the
    # same depth, so a depth can span several rounds.  NOTE `is not None`:
    # tokens=0 would be falsy AND defer every candidate forever, so it is
    # rejected outright.
    if cfg.host_tokens_per_round is not None and cfg.host_tokens_per_round <= 0:
        raise ValueError(
            f"host_tokens_per_round must be positive, got {cfg.host_tokens_per_round}"
        )
    if cfg.max_retries < 0:
        raise ValueError(f"max_retries must be >= 0, got {cfg.max_retries}")
    multi_round = (cfg.host_tokens_per_round is not None
                   or cfg.max_retries > 0)
    max_rounds = (cfg.max_depth + 1) * (50 if multi_round else 1)
    frontier_exhausted = False
    round_no = start_round
    while round_no < max_rounds:
        # ---- candidate selection -----------------------------------------
        active = [s for s in range(n_seeds) if counts[s] < cfg.max_pages]
        eligible_now = F.col("seed_id").isin(active)
        if cfg.max_retries > 0:
            # retry scheduler: rows re-enqueued with a future not_before
            # are invisible until their round arrives (I3 distributed)
            live = frontier.filter(eligible_now
                                   & (F.col("not_before") <= round_no))
        else:
            live = frontier.filter(eligible_now)
        head = live.agg(F.min("depth").alias("d")).collect()[0]["d"]
        if head is None:
            if (cfg.max_retries > 0
                    and frontier.filter(eligible_now).limit(1).count() > 0):
                # only future-not_before rows remain: idle round, advance
                # virtual time without committing a snapshot
                round_no += 1
                continue
            frontier_exhausted = True
            break
        depth = int(head)
        # deterministic dedup (ADVICE r2): a parked retry row and a
        # rediscovered retry_no=0 copy of the same URL can both be live
        # at this depth — keep MAX(retry_no) so the retry row always
        # wins, instead of dropDuplicates' partition-order-dependent pick
        # (the fetch outcome depends on retry_no via the transient-heal
        # threshold, so an arbitrary pick breaks exact resume).
        cand = (
            live.filter(F.col("depth") == depth)
            .groupBy("seed_id", "canon_url")
            .agg(F.max("retry_no").alias("retry_no"))
            .withColumn("depth", F.lit(depth).cast("int"))
            .select("seed_id", "canon_url", "depth", "retry_no")
        )

        # visited gate: bloom/cuckoo prefilter (optional) + exact
        # anti-join (D2/F6) — both filters are definitely-unseen fast
        # paths only, so the result equals the plain anti-join.
        # INCREMENTAL sketch maintenance (round 6, VERDICT r5 perf-weak
        # #1): the sketch is carried across rounds and only the round's
        # seen DELTA is merged in at commit time (below) — a full
        # O(|seen|) rebuild happens only when the sketch is missing
        # (fresh start, pre-sidecar resume) or the seen set outgrew its
        # geometry, which the 4x headroom makes geometrically rare
        # (amortized O(1) sketch work per URL ever seen).  The sketch
        # only ever gains keys, so the no-false-negatives contract is
        # untouched; capacity overrun merely raises the false-positive
        # rate until the next rebuild (join traffic, never correctness).
        probe = None
        if cfg.use_bloom or cfg.use_cuckoo:
            seen_keyed = seen.withColumn(
                "probe_key", F.concat(F.col("seed_id").cast("string"),
                                      F.lit("|"), F.col("canon_url"))
            )
            # exact running count maintained driver-side (deltas are
            # disjoint by construction) — no per-round seen.count() scan
            n_seen = seen_total
            if n_seen > 0:
                if sketch is None or n_seen > sketch_capacity:
                    sketch_capacity = max(4 * n_seen, 1024)
                    if cfg.use_cuckoo:
                        sketch = build_cuckoo(seen_keyed, "probe_key",
                                              expected_items=sketch_capacity)
                    else:
                        sketch = build_bloom(seen_keyed, "probe_key",
                                             expected_items=sketch_capacity,
                                             fpp=cfg.bloom_fpp)
                probe = (cuckoo_probe_udf(spark, sketch) if cfg.use_cuckoo
                         else bloom_probe_udf(spark, sketch))
        if probe is not None:
            cand = cand.withColumn(
                "probe_key", F.concat(F.col("seed_id").cast("string"),
                                      F.lit("|"), F.col("canon_url"))
            )
            cand = anti_join_with_probe(
                cand, seen_keyed.select("seed_id", "canon_url"),
                ["seed_id", "canon_url"], probe, "probe_key",
            ).drop("probe_key")
        else:
            cand = cand.join(seen, ["seed_id", "canon_url"], "left_anti")

        # ---- politeness: per-host token bucket (virtual time) -------------
        cand = cand.withColumn(
            "host", F.regexp_extract("canon_url", r"^https?://([^/]+)", 1)
        )
        deferred = ranked = None
        if cfg.host_tokens_per_round is not None:
            # two-phase top-N admission: no single task sorts a hot
            # host's full candidate list (VERDICT r2 #1) — see
            # admit_per_host for the exactness argument.  Cached: the
            # fetch reads the admitted rows and the frontier write the
            # deferred ones, and without it the write re-ran the gate,
            # the probe and both windows.  Unpersisted at round end.
            ranked = _cache_coalescing(admit_per_host(
                cand, cfg.host_tokens_per_round, cfg.salt_buckets))
            cand = ranked.filter(F.col("admitted")).drop("admitted")
            deferred = ranked.filter(~F.col("admitted")).select(
                "seed_id", "canon_url", "depth", "retry_no",
                F.lit(0).alias("not_before"),
            )
            # deferred rows re-enter the frontier at the same depth below —
            # ≥ crawl_delay spacing between same-host fetches is modelled as
            # at most `tokens` admissions per host per virtual round (I4).

        # robots gate (north rule; superset of the blacklist predicate F2)
        if cfg.auto_robots:
            # robots.txt CACHE: hosts not yet in the cache table get their
            # robots "fetched" once (deterministic synth) and appended as
            # a delta — fetch-once-per-host semantics, persisted across
            # rounds and resumes.
            cached = store.read_deltas(spark, "robots", ROBOTS_SCHEMA,
                                       round_no - 1)
            new_hosts = cand.select("host").distinct().join(
                cached.select("host").distinct(), "host", "left_anti")
            fetched_robots = new_hosts.mapInPandas(
                _make_robots_fetch(synth_cfg.seed, cfg.rfc_robots),
                ROBOTS_SCHEMA)
            store.write_delta(fetched_robots, "robots", round_no)
            robots_table = store.read_deltas(spark, "robots", ROBOTS_SCHEMA,
                                             round_no)
        elif robots:
            robots_table = spark.createDataFrame(
                [(h, p, a)
                 for h, rs in robots.items()
                 for p, a in normalize_rules(rs)],
                ROBOTS_SCHEMA,
            )
        else:
            robots_table = None

        if robots_table is not None:
            # url_path excludes query+fragment, keeping the robots
            # match consistent with is_blacklisted (ADVICE r1).
            # RFC 9309 longest-match Allow/Disallow precedence with
            # '*'/'$' patterns (robots.py; VERDICT r4 task #6) — for
            # Disallow-only rule sets this reduces to the old
            # any-match semantics bit-for-bit.
            cand = attach_robots_blocked(
                cand, robots_table, url_path(F.col("canon_url")),
                ["seed_id", "canon_url", "depth", "retry_no", "host"],
            )
        else:
            cand = cand.withColumn("robots_blocked", F.lit(False))

        # ---- fetch + link extraction: one Python pass (salted
        # repartition defuses hot hosts) ------------------------------------
        blacklisted = is_blacklisted(F.col("canon_url"), cfg.blacklist) \
            | F.col("robots_blocked")
        salt = F.pmod(url_hash64(F.col("canon_url")), cfg.salt_buckets)
        # an explicit partition count: AQE would otherwise coalesce these
        # URL-sized rows into a few tasks and undo the salt
        n_fetch = int(spark.conf.get("spark.sql.shuffle.partitions"))
        fetched = (
            cand.repartition(n_fetch, F.col("host"), salt)
            .select(*_FETCH_INPUT, blacklisted.alias("blacklisted"))
            .mapInPandas(_make_fetch_extract(fetch_stage), FETCHED_SCHEMA)
        )

        # ---- failed-fetch re-enqueue (I3 distributed: retries are
        # frontier rows with a future not_before, not inline sleeps) ----
        retry_delta = fetched_raw = None
        if cfg.max_retries > 0:
            # the retry rows and the round's rows both read the fetch
            # output: cache it so the fetch runs once.  Unpersisted at
            # round end.
            fetched = fetched_raw = fetched.cache()
            retry_cond = (~F.col("ok") & ~F.col("blacklisted")
                          & (F.col("retry_no") < cfg.max_retries))
            retry_delta = fetched.filter(retry_cond).select(
                "seed_id", "canon_url", "depth",
                (F.col("retry_no") + 1).alias("retry_no"),
                # exponential backoff in virtual rounds: 1, 2, 4 …
                # (crawler.py:141: backoff_factor * 2**attempt, in rounds)
                (F.lit(round_no) + F.expr("shiftleft(1, retry_no)"))
                .cast("int").alias("not_before"),
            )
            # retryable rows leave this round entirely: not popped, not
            # marked seen, no links harvested — they will be re-fetched
            fetched = fetched.filter(~retry_cond)

        fetched = fetched.withColumn(
            "content_hash",
            F.when(F.col("ok"), F.sha2(F.col("text"), 256)),
        )

        # ---- global content dedup (D1, canonical order) --------------------
        eligible = F.col("ok") & ~F.col("blacklisted")
        w_hash = Window.partitionBy("content_hash").orderBy("canon_url", "seed_id")
        fetched = (
            fetched
            .withColumn("__rn", F.when(eligible, F.row_number().over(w_hash)))
            .join(seen_hashes.withColumnRenamed("content_hash", "__prev_hash"),
                  F.col("content_hash") == F.col("__prev_hash"), "left")
            .withColumn(
                "is_dup",
                eligible & (F.col("__prev_hash").isNotNull() | (F.col("__rn") > 1)),
            )
            .drop("__rn", "__prev_hash")
        )

        # ---- per-seed pop prefix (O5: while pages < max_pages) -------------
        cap_df = F.broadcast(spark.createDataFrame(
            [(s, cfg.max_pages - counts[s], pops[s]) for s in range(n_seeds)],
            "seed_id int, cap_left int, pop_offset int",
        ))
        success = eligible & ~F.col("is_dup")
        fetched = fetched.join(cap_df, "seed_id") \
                         .withColumn("__succ", success.cast("int"))
        if cfg.scalable_cap_window:
            # two-phase exact prefix sum: no single task ever sorts a
            # whole seed's round candidates (VERDICT r2 scale audit)
            fetched = attach_grouped_prefix(
                fetched, "seed_id", ["canon_url"], "__succ",
                "__cum_before", "pop_idx",
            )
        else:
            w_seed = Window.partitionBy("seed_id").orderBy("canon_url")
            fetched = fetched.withColumn(
                "__cum_before",
                F.coalesce(
                    F.sum("__succ").over(
                        w_seed.rowsBetween(Window.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                ),
            ).withColumn("pop_idx", F.row_number().over(w_seed))
        fetched = fetched.withColumn(
            "popped", F.col("__cum_before") < F.col("cap_left"))
        fetched = fetched.cache()

        # ---- results of this round -----------------------------------------
        results_r = (
            fetched.filter(F.col("popped") & success)
            .withColumn("site", base_domain(F.col("canon_url")))
            .withColumn(
                "crawl_time",
                F.col("latency")
                + (F.col("attempts") - 1).cast("double") * F.lit(4.0),
            )
            .withColumn(
                "crawled_at",
                (F.col("pop_offset") + F.col("pop_idx")).cast("double")
                * F.lit(cfg.crawl_delay),
            )
            .select(
                "seed_id", F.col("canon_url").alias("url"), "title", "text",
                "content_hash", "depth", "crawl_time", "links_found", "site",
                "crawled_at",
            )
        )

        # ---- state updates ---------------------------------------------------
        popped_rows = fetched.filter(F.col("popped"))
        seen_delta = popped_rows.select("seed_id", "canon_url")
        # (anti-joins keep deltas disjoint across rounds, so union == set)
        new_seen = seen.unionByName(seen_delta)

        # frontier_{d+1}: links from popped fetched rows (crawler.py:258-262)
        # (links is empty for failed and skipped rows)
        if depth < cfg.max_depth:
            next_frontier = (
                popped_rows.select("seed_id",
                                   F.explode("links").alias("canon_url"))
                .distinct()
                .join(new_seen, ["seed_id", "canon_url"], "left_anti")
                .withColumn("depth", F.lit(depth + 1))
                .withColumn("retry_no", F.lit(0))
                .withColumn("not_before", F.lit(0))
            )
        else:
            next_frontier = _empty_frontier(spark)
        leftover = frontier.filter(F.col("depth") > depth)
        if cfg.max_retries > 0:
            # retry rows parked with a future not_before stay queued at
            # ANY depth — including depths the BFS head has already
            # passed (the crawl moves on and revisits them when their
            # round arrives; head = min(depth) brings them back first)
            leftover = leftover.unionByName(frontier.filter(
                (F.col("depth") <= depth) & (F.col("not_before") > round_no)
            ))
        new_frontier = leftover.unionByName(
            next_frontier.select("seed_id", "canon_url", "depth",
                                 "retry_no", "not_before")
        )
        if deferred is not None:
            new_frontier = new_frontier.unionByName(deferred)
        if retry_delta is not None:
            new_frontier = new_frontier.unionByName(retry_delta)

        # ---- per-partition lineage metrics (CrawlStats analog) ---------------
        metrics_r = (
            popped_rows.groupBy("fetch_partition")
            .agg(
                F.sum(success.cast("long")).alias("pages_crawled"),
                F.sum((~F.col("ok") & ~F.col("blacklisted")).cast("long"))
                 .alias("pages_failed"),
                F.sum(F.col("blacklisted").cast("long")).alias("pages_skipped"),
                F.sum(F.col("is_dup").cast("long")).alias("pages_deduplicated"),
            )
            .select(
                F.lit(cfg.run_id).alias("run_id"),
                F.lit(round_no).alias("round"),
                F.lit(depth).alias("depth"),
                F.col("fetch_partition").alias("partition_id"),
                "pages_crawled", "pages_failed", "pages_skipped",
                "pages_deduplicated",
            )
        )

        # driver-side counters (tiny: one row per seed)
        per_seed = {
            r["seed_id"]: (r["succ"], r["pops"])
            for r in popped_rows.groupBy("seed_id").agg(
                F.sum(success.cast("int")).alias("succ"),
                F.count("*").alias("pops"),
            ).collect()
        }
        for s, (succ, np_) in per_seed.items():
            counts[s] += int(succ or 0)
            pops[s] += int(np_)
        # seen delta == popped rows (unique per (seed_id, canon_url) and
        # disjoint from prior rounds via the anti-join), so the running
        # total advances by exactly this round's pops
        seen_total += sum(int(np_) for _, np_ in per_seed.values())

        # ---- snapshot commit (lineage truncation + exact resume) -------------
        # Accumulating tables commit O(delta) appends, not full rewrites
        # (Iceberg append-snapshot shape); frontier is genuinely new state
        # each round and is rewritten (it stays small: unvisited horizon).
        seen_commit = seen_delta
        if init_seen_pending is not None:
            seen_commit = seen_commit.unionByName(init_seen_pending)
            init_seen_pending = None
        # the five snapshot writes are mutually independent and every
        # input frame above is cached, so run them as concurrent jobs
        # (guide §2.6 overlap-independent-jobs): each write's tail of
        # straggler tasks back-fills executors freed by the others.
        # The commit stays strictly AFTER the join below, so the
        # atomic-manifest resume contract is unchanged; a failure in
        # any write raises here, before commit, exactly as the
        # sequential form did.
        from concurrent.futures import ThreadPoolExecutor

        writes = [
            lambda: store.write(new_frontier, "frontier", round_no),
            lambda: store.write_delta(seen_commit, "seen_urls", round_no),
            lambda: store.write_delta(results_r.select("content_hash"),
                                      "seen_hashes", round_no),
            lambda: store.write_delta(results_r, "pages", round_no),
            lambda: store.write_delta(metrics_r, "metrics", round_no),
        ]
        with ThreadPoolExecutor(max_workers=3) as pool:
            for f in [pool.submit(w) for w in writes]:
                f.result()
        # incremental seen-sketch: merge ONLY this round's delta into
        # the carried sketch (O(|delta|), not O(|seen|)) and persist
        # the sidecar so exact resume restores it.  First probing
        # round (or a fresh geometry) builds from the delta, which IS
        # the full seen set then.
        if cfg.use_bloom or cfg.use_cuckoo:
            # coalesce: every partition ships a FULL-geometry bit/bucket
            # array through treeAggregate, so for a round-sized delta
            # the array traffic (not the adds) dominates — 4 partitions
            # bound it at 4x one sketch while keeping the adds parallel
            delta_keyed = seen_commit.withColumn(
                "probe_key", F.concat(F.col("seed_id").cast("string"),
                                      F.lit("|"), F.col("canon_url"))) \
                .coalesce(4)
            if sketch is None:
                sketch_capacity = max(4 * max(seen_total, 1), 1024)
                if cfg.use_cuckoo:
                    sketch = build_cuckoo(delta_keyed, "probe_key",
                                          expected_items=sketch_capacity)
                else:
                    sketch = build_bloom(delta_keyed, "probe_key",
                                         expected_items=sketch_capacity,
                                         fpp=cfg.bloom_fpp)
            elif cfg.use_cuckoo:
                sketch = sketch.merge(build_cuckoo(
                    delta_keyed, "probe_key", expected_items=1,
                    n_buckets=sketch.n_buckets))
            else:
                sketch = sketch.merge(build_bloom(
                    delta_keyed, "probe_key", expected_items=1,
                    params=(sketch.n_bits, sketch.k)))
            save_sketch(root, round_no, sketch, sketch_capacity)
        for frame in (fetched, fetched_raw, ranked):
            if frame is not None:
                frame.unpersist()
        frontier = store.read(spark, "frontier", round_no, FRONTIER_SCHEMA)
        seen = store.read_deltas(spark, "seen_urls", SEEN_SCHEMA, round_no)
        seen_hashes = store.read_deltas(spark, "seen_hashes", HASHES_SCHEMA,
                                        round_no)
        store.commit({
            "round": round_no,
            "depth": depth,
            "run_id": cfg.run_id,
            "max_depth": cfg.max_depth,
            "max_pages": cfg.max_pages,
            "n_seeds": n_seeds,
            "counts": {str(k): v for k, v in counts.items()},
            "pops": {str(k): v for k, v in pops.items()},
            "synth_seed": synth_cfg.seed,
            "seen_total": seen_total,
        })
        round_no += 1
        if cfg.stop_after_round is not None and round_no > cfg.stop_after_round:
            break   # interruption: partial state is committed (cli.py:292-295)
        if cfg.stop_file is not None and os.path.exists(cfg.stop_file):
            # user stop request (gui.py _on_stop analog): the round that
            # just committed is the "current page" being finished; exit
            # with resumable partial state and let the caller save/report
            break

    # the hard round cap must never silently truncate a politeness crawl:
    # deferred rows still in the frontier at exit mean lost coverage
    if (not frontier_exhausted and cfg.stop_after_round is None
            and round_no >= max_rounds):
        active = [s for s in range(n_seeds) if counts[s] < cfg.max_pages]
        leftover_n = frontier.filter(F.col("seed_id").isin(active)).count()
        if leftover_n > 0:
            import warnings

            warnings.warn(
                f"crawl exited at max_rounds={max_rounds} with {leftover_n} "
                "frontier rows still pending (politeness deferral exceeded "
                "the round budget); results are truncated",
                RuntimeWarning,
                stacklevel=2,
            )

    # accumulated outputs from the per-round delta files
    last = round_no - 1
    pages = store.read_deltas(spark, "pages", PAGES_SCHEMA, last)
    metrics = store.read_deltas(spark, "metrics", METRICS_SCHEMA, last)

    # canonical global sequence (SURVEY §3.1): (depth, canon_url, seed_id),
    # assigned scalably — range-partitioned local numbering + broadcast
    # offsets instead of a single-task global window (VERDICT r1 #1).
    # The page count is known exactly from the driver counters, so small
    # outputs take the plain window (ADVICE r2: the scalable path's eager
    # checkpoint + counts job cost ~20% crawl throughput at CLI sizes).
    pages_final = attach_global_seq(
        pages, ["depth", "url", "seed_id"], "seq",
        known_count=sum(counts.values()),
    ).withColumn("seq", F.col("seq").cast("int"))
    stats = {
        "sites_crawled": n_seeds,
        **{
            k: v
            for k, v in (
                metrics.agg(
                    F.sum("pages_crawled").alias("pages_crawled"),
                    F.sum("pages_failed").alias("pages_failed"),
                    F.sum("pages_skipped").alias("pages_skipped"),
                    F.sum("pages_deduplicated").alias("pages_deduplicated"),
                ).collect()[0].asDict()
            ).items()
        },
    }
    stats = {k: int(v or 0) for k, v in stats.items()}
    return CrawlOutputs(
        pages=pages_final, metrics=metrics, seen_urls=seen,
        store_root=root, rounds=round_no, stats=stats,
    )
