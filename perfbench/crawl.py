"""The two crawl workloads.

``bulk_round``: a procedural frontier over 1024 hosts (one hot host with
12.5% of the URLs), 30% of it pre-seeded as seen, a per-host budget that
admits every unseen URL of most normal hosts, the exact seen anti-join.
Every fetched page spawns its next page, so the frontier keeps its shape
round after round while ``seen`` grows.  Per-row work dominates.

``deep_crawl``: a ``fixtures.build_site`` world of 16 content hosts with
deep page and cursor chains plus 4 media hosts whose primaries fail over to
backups, http/code/parse failures injected into URLs the first rounds
fetch, budget 2 per host, the cuckoo seen filter.  Each round carries 40
URLs, so fixed per-round cost dominates.

Both run ``Crawler.run_round`` closed-loop: a round starts when the
previous one has committed.
"""

from __future__ import annotations

import collections
import os
import random
import shutil
import traceback

from pyspark.sql import functions as F

from spiders_for_all_spark import fixtures as FX
from spiders_for_all_spark.engine import Crawler, CrawlConfig, ok_cond
from spiders_for_all_spark.functions.urls import (
    canonicalize_url, canonicalize_url_py, host_of_url_py, with_url_columns,
)
from spiders_for_all_spark.operators import dedup as D
from spiders_for_all_spark.operators import documents as DOCS
from spiders_for_all_spark.operators import frontier as FR
from spiders_for_all_spark.operators import multimodal as MM
from spiders_for_all_spark.operators import parse as P
from spiders_for_all_spark.operators import politeness as POL
from spiders_for_all_spark.simulator import simulate
from spiders_for_all_spark.sources.fetcher import ProceduralFetcher, SyntheticFetcher
from spiders_for_all_spark.storage import SnapshotStorage

from common import Result, closed_loop, dir_footprint, log, materialize, median, timed
from spans import JobCounter, SpanRecorder, TracedStorage, self_time

# bulk_round shape
BULK_HOSTS = 1024
BULK_FRONTIER = 64_000
BULK_BUDGET = 42
BULK_SEEN_TENTHS = 3  # share of the frontier pre-seeded as seen

MIN_TIMED_ROUNDS = 3  # the median needs a middle value

# deep_crawl shape
DEEP_HOSTS = 16
DEEP_CHAIN_PAGES = 32
DEEP_MEDIA_HOSTS = 4
DEEP_MEDIA_PER_HOST = 48
DEEP_BUDGET = 2


# ---------------------------------------------------------------------------
# inputs


def bulk_frontier(spark, seed: int):
    """BULK_FRONTIER page-1 URLs, one chain each; every 8th id lands on the
    hot host h0 (12.5%), the rest round-robin over h1..h1023."""
    base = seed * BULK_FRONTIER
    df = spark.range(base, base + BULK_FRONTIER).select(
        F.concat(
            F.lit("https://h"),
            F.when(F.col("id") % 8 == 0, F.lit(0)).otherwise(
                1 + F.col("id") % (BULK_HOSTS - 1)
            ),
            F.lit(".example.com/api/list?chain="),
            F.col("id"),
            F.lit("&page=1&size=2"),
        ).alias("url"),
        (F.col("id") % 3).cast("int").alias("priority"),
        F.lit(0).alias("discovery_round"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("attempt"),
        F.lit(None).cast("string").alias("cursor"),
        F.lit(1).alias("page_no"),
        F.lit("page").alias("kind"),
        F.lit(None).cast("array<string>").alias("backup_urls"),
    )
    return FR.normalize_frontier(with_url_columns(df))


def deep_world(seed: int) -> tuple[list[dict], list[dict]]:
    """Site rows and seeds: deep content chains plus media seeds whose
    primary always fails over to a backup, with failures injected into
    URLs the run's first rounds fetch (see inject_failures)."""
    rng = random.Random(seed)
    rows, seeds = FX.build_site(
        n_hosts=DEEP_HOSTS, page_chains=1, pages_per_chain=DEEP_CHAIN_PAGES,
        page_size=2, cursor_chains=1, cursor_pages=DEEP_CHAIN_PAGES,
        comments_per_page=2, notes_per_host=6, images_per_note=2, seed=seed,
    )
    for m in range(DEEP_MEDIA_HOSTS):
        for k in range(DEEP_MEDIA_PER_HOST):
            ext = "jpg" if k % 3 else "mp4"
            primary = f"https://m{m}.example.com/media/s{seed}-{k}.{ext}"
            backup = f"https://cdn{m}.example.com/media/s{seed}-{k}.{ext}"
            payload = f"MEDIA:{backup}:" + "x" * (64 + rng.randrange(4096))
            for url, fail in ((primary, 99), (backup, 0)):
                rows.append({
                    "url": url, "kind": "media", "status": 200, "body": payload,
                    "latency_ms": 1, "fail_times": fail, "fail_kind": "http",
                })
            seeds.append({"url": primary, "priority": 0, "kind": "media",
                          "backup_urls": [backup]})
    inject_failures(rows, seeds, rng)
    return rows, seeds


# (kind, round the URL is first fetched in without failures, how many,
# fail_times, fail_kind).  A URL failing in round r is retried in r+1; one
# that always fails is dead-lettered on its third attempt, in round r+2, so
# every entry aims its retries and dead letters at rounds 1..3, which every
# run crawls (warm-up round 0 plus at least three timed rounds).
DEEP_FAILURES = (
    ("page", 0, 3, 1, "http"),     # one retry each
    ("page", 1, 3, 1, "http"),
    ("page", 2, 3, 1, "http"),
    ("cursor", 0, 3, 2, "code"),   # two retries each
    ("html", 1, 4, 99, "parse"),   # dead letter in round 3
    ("media", 0, 2, 99, "http"),   # backup down too: dead letter in round 2
    ("media", 1, 2, 99, "http"),   # ... in round 3
)
DEEP_PREFIX_ROUNDS = 4


def inject_failures(rows: list[dict], seeds: list[dict], rng: random.Random) -> None:
    """Set ``fail_times`` / ``fail_kind`` per DEEP_FAILURES.  The round a
    URL is first fetched in comes from ``simulator.simulate`` on the world
    without failures; each content host gets at most one failing page or
    note, so one failure does not push another out of the early rounds.
    A failing media seed fails on its backup (its primary always fails)."""
    by_canon = {canonicalize_url_py(r["url"]): r for r in rows}
    sim = simulate(FX.site_index(rows), seeds, max_rounds=DEEP_PREFIX_ROUNDS,
                   default_budget=DEEP_BUDGET, max_attempts=3, max_depth=3)
    first: dict[str, int] = {}
    for rnd, canon, _rank in sim.visits:
        first.setdefault(canon, rnd)
    backup = {canonicalize_url_py(s["url"]): canonicalize_url_py(s["backup_urls"][0])
              for s in seeds if s.get("backup_urls")}
    used_hosts: set[str] = set()
    for kind, rnd, n, times, fail_kind in DEEP_FAILURES:
        cands = sorted(c for c, r in first.items()
                       if r == rnd and by_canon[c]["kind"] == kind
                       and (kind != "media" or c in backup)
                       and host_of_url_py(c) not in used_hosts)
        for canon in rng.sample(cands, n):
            target = by_canon[backup[canon] if kind == "media" else canon]
            target["fail_times"], target["fail_kind"] = times, fail_kind
            if kind in ("page", "html"):
                used_hosts.add(host_of_url_py(canon))


# ---------------------------------------------------------------------------
# workload state


class Crawl:
    """One workload's warehouse, crawler and reference."""

    def __init__(self, spark, name: str, work: str, seed: int, recorder):
        self.spark, self.name, self.work, self.seed = spark, name, work, seed
        self.recorder = recorder
        self.deep = name == "deep_crawl"
        self.round_no = 0
        self.rounds: list = []  # RoundStats of every committed round
        self.round_s: list[float] = []  # timed rounds only
        self.timed_sched = 0
        self.attempted = 0
        self.failed = 0

    def storage_at(self, path: str) -> SnapshotStorage:
        if self.recorder is not None:
            return TracedStorage(self.spark, path, self.recorder)
        return SnapshotStorage(self.spark, path)

    def build(self) -> None:
        """Warehouse + crawler + bootstrap state (set-up)."""
        self.storage = self.storage_at(os.path.join(self.work, "wh"))
        if self.deep:
            self.rows, seeds = deep_world(self.seed)
            # the site is the simulated web, not warehouse data
            self.site_path = FX.write_site(
                self.rows, os.path.join(self.work, "site", "pages.parquet")
            )
            self.cfg = CrawlConfig(
                default_budget=DEEP_BUDGET, max_attempts=3, max_depth=3,
                use_cuckoo=True, n_buckets=8, cuckoo_capacity_per_bucket=256,
            )
            self.seeds = seeds
            self.crawler = Crawler(self.spark, self.storage,
                                   SyntheticFetcher(self.site_path), self.cfg)
            self.crawler.bootstrap(seeds)
        else:
            self.cfg = CrawlConfig(default_budget=BULK_BUDGET, salt_n=1, max_depth=0)
            frontier = bulk_frontier(self.spark, self.seed)
            self.storage.commit("frontier", frontier)
            frontier = self.storage.read("frontier")
            seen = frontier.filter(
                F.pmod(F.xxhash64("url", F.lit(self.seed)), F.lit(10)) < BULK_SEEN_TENTHS
            ).select("url_hash")
            self.storage.commit("seen", D.with_bucket(seen, self.cfg.n_buckets))
            for t in ("fetch_log", "documents", "media_meta"):
                self.storage.commit(t, self.storage.empty(t))
            self.crawler = Crawler(self.spark, self.storage, ProceduralFetcher(), self.cfg)

    def reference(self) -> None:
        """Expected per-round figures for bulk_round, from the committed
        inputs: the politeness window admits min(budget, unseen URLs) per
        host, and each fetched page is replaced by its successor on the
        same host, so the per-host unseen counts never change."""
        if self.deep:
            return  # deep_crawl is compared with the simulator at the end
        avail = (
            self.storage.read("frontier")
            .join(self.storage.read("seen"), "url_hash", "left_anti")
            .groupBy("host").count()
        )
        ref = avail.agg(
            F.sum(F.least("count", F.lit(BULK_BUDGET))).alias("sched"),
            F.count(F.lit(1)).alias("hosts"),
            F.sum((F.col("count") > BULK_BUDGET).cast("int")).alias("capped"),
        ).first()
        self.expect_sched = int(ref["sched"])
        self.seen0 = self.storage.read("seen").count()
        log(f"bulk_round: {ref['hosts']} hosts with unseen URLs, {ref['capped']} of them "
            f"above the budget; {self.expect_sched} URLs expected per round")

    # -- one round ------------------------------------------------------
    def round(self, timed_round: bool) -> float:
        rs, dt = timed(self.crawler.run_round, self.round_no)
        self.round_no += 1
        self.rounds.append(rs)
        if timed_round:
            self.round_s.append(dt)
            self.timed_sched += rs.scheduled
        if not self.deep:
            ok = (rs.scheduled == self.expect_sched and rs.ok == rs.scheduled
                  and rs.failed == 0)
            if not ok:
                log(f"round {rs.round_no}: {rs} != expected scheduled "
                    f"{self.expect_sched}, all ok")
                self.failed += 1
        return dt

    def guarded_round(self) -> float:
        """A timed round; one that raises counts as failed and ends the
        loop, since the warehouse state is no longer trusted."""
        self.attempted += 1
        try:
            return self.round(timed_round=True)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            raise

    # -- end-of-run checks ----------------------------------------------
    def check(self) -> bool:
        """Compare the committed state with the reference; True if equal."""
        if self.deep:
            return self.check_deep()
        total = sum(r.scheduled for r in self.rounds)
        ok = sum(r.ok for r in self.rounds)
        seen = self.storage.read("seen").count()
        docs = self.storage.read("documents").count()
        good = seen == self.seen0 + total and docs == 2 * ok
        if not good:
            log(f"bulk state: seen {seen} vs {self.seen0}+{total}, docs {docs} vs 2*{ok}")
        return good

    def check_deep(self) -> bool:
        sim = simulate(
            FX.site_index(self.rows), self.seeds, max_rounds=len(self.rounds),
            default_budget=self.cfg.default_budget,
            max_attempts=self.cfg.max_attempts, max_depth=self.cfg.max_depth,
        )
        problems = []
        per_round = collections.Counter(r for r, _c, _k in sim.visits)
        for rs in self.rounds:
            if rs.scheduled != per_round[rs.round_no]:
                problems.append(f"round {rs.round_no} scheduled {rs.scheduled} "
                                f"!= {per_round[rs.round_no]}")
        st = self.storage
        log_df = st.read("fetch_log").select(
            "round", "url_hash", "dead_letter", canonicalize_url(F.col("url")).alias("c")
        ).collect()
        seen_hashes = {r["url_hash"] for r in st.read("seen").select("url_hash").collect()}
        eng_seen = {r["c"] for r in log_df if r["url_hash"] in seen_hashes}
        if eng_seen != sim.seen or len(seen_hashes) != len(sim.seen):
            problems.append("seen set differs")
        if sorted((int(r["round"]), r["c"]) for r in log_df) != sorted(
            (rnd, c) for rnd, c, _k in sim.visits
        ):
            problems.append("visit multiset differs")
        if {r["c"] for r in log_df if r["dead_letter"]} != set(sim.dead_letters):
            problems.append("dead letters differ")

        def tup(spans):
            return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]

        docs = {r["doc_id"]: tup(r["spans"]) for r in st.read("documents").collect()}
        if docs != {k: tup(v) for k, v in sim.documents.items()}:
            problems.append("document spans differ")
        for p in problems:
            log(f"deep_crawl check: {p}")
        return not problems


# ---------------------------------------------------------------------------
# staged replica of one round (traced runs)


class Replica:
    """Runs one round's layers one at a time, in engine order, each on the
    previous layer's materialized output, with a span around each."""

    def __init__(self, c: Crawl):
        self.c = c
        self.dir = os.path.join(c.work, "replica")
        if c.deep:
            self.fetcher = SyntheticFetcher(
                c.site_path, media_sink_dir=os.path.join(self.dir, "media")
            )
        else:
            self.fetcher = ProceduralFetcher()

    def run(self, parent: dict) -> dict:
        c, spark, cfg, rec = self.c, self.c.spark, self.c.cfg, self.c.recorder
        st = c.storage
        r = c.round_no
        shutil.rmtree(self.dir, ignore_errors=True)

        def stage(name: str, df, key: str):
            with rec.span(name, r, parent):
                res = materialize(spark, df, os.path.join(self.dir, key))
            return res

        frontier = st.read("frontier")
        seen = st.read("seen")
        n_frontier = frontier.count()
        if cfg.use_cuckoo:
            cuckoo = (
                st.read("cuckoo") if st.latest_snapshot("cuckoo") is not None
                else D.build_cuckoo(seen, cfg.n_buckets, cfg.cuckoo_capacity_per_bucket)
            )
            cand = stage("dedup", D.seen_anti_join_cuckoo(frontier, seen, cuckoo,
                                                          cfg.n_buckets), "cand")
        else:
            cand = stage("dedup", D.seen_anti_join(frontier, seen), "cand")
        n_cand = cand.count()
        sched = stage("politeness", POL.schedule_round(
            POL.robots_gate(cand, None), None, cfg.default_budget, cfg.salt_n
        ).drop("sched_rank"), "sched")
        n_sched = sched.count()
        fetched = stage("fetcher", self.fetcher.fetch(sched), "fetched")
        f = fetched.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(((F.col("status") == 200) & F.col("error").isNull()).cast("int")).alias("ok"),
            F.sum((F.col("attempt") > 0).cast("int")).alias("retry"),
            F.sum(F.coalesce("bytes_fetched", F.lit(0))).alias("media_bytes"),
        ).first()
        parsed = stage("parse", P.parse_stage(fetched).drop("media_bytes"), "parsed")
        p = parsed.agg(
            F.sum(ok_cond().cast("int")).alias("ok"),
            F.sum((~ok_cond()).cast("int")).alias("failed"),
            F.sum((~ok_cond() & (F.col("attempt") + 1 >= cfg.max_attempts)).cast("int")).alias("dead"),
            F.sum(F.when(ok_cond(), F.size("docs")).otherwise(0)).alias("docs"),
            F.sum(F.col("parse_error").isNotNull().cast("int")).alias("perr"),
        ).first()
        ok = parsed.filter(ok_cond())
        failed = parsed.filter(~ok_cond())
        stage("documents", DOCS.docs_from_parsed(ok), "docs")

        with rec.span("frontier", r, parent):
            succ = materialize(spark, FR.successors(ok, r + 1, cfg.max_depth),
                               os.path.join(self.dir, "succ"))
            retries = FR.normalize_frontier(
                failed.filter(F.col("attempt") + 1 < cfg.max_attempts)
                .withColumn("attempt", F.col("attempt") + 1)
            )
            dead = failed.filter(F.col("attempt") + 1 >= cfg.max_attempts)
            seen_delta = D.with_bucket(
                ok.select("url_hash").unionByName(dead.select("url_hash")),
                cfg.n_buckets,
            )
            succ_new = succ.join(seen_delta.select("url_hash"), "url_hash", "left_anti")
            if cfg.use_cuckoo:
                succ_new = D.seen_anti_join_cuckoo(succ_new, seen, cuckoo, cfg.n_buckets)
            else:
                succ_new = succ_new.join(seen.select("url_hash"), "url_hash", "left_anti")
            remainder = frontier.join(parsed.select("url_hash"), "url_hash", "left_anti")
            nxt = materialize(spark, FR.dedup_frontier(
                remainder.unionByName(retries).unionByName(succ_new)
            ), os.path.join(self.dir, "next"))
        media = ok.filter(F.col("media_ref").isNotNull())
        if media.limit(1).count():
            stage("multimodal.sniff", MM.sniff_media_meta(
                media.select("url_hash", "media_ref", "media_path"), path_col="media_path"
            ), "media_meta")
        if cfg.use_cuckoo:
            stage("dedup.cuckoo_insert", D.cuckoo_insert(
                cuckoo, seen_delta, cfg.n_buckets, cfg.cuckoo_capacity_per_bucket
            ), "cuckoo")
        return dict(
            frontier_in=n_frontier, candidates=n_cand, scheduled=n_sched,
            fetched=f["rows"], fetch_ok=f["ok"] or 0, retry_rows=f["retry"] or 0,
            media_bytes=f["media_bytes"] or 0, ok=p["ok"] or 0,
            failed=p["failed"] or 0, dead=p["dead"] or 0, docs_out=p["docs"] or 0,
            parse_errors=p["perr"] or 0, successors=succ.count(),
            next_frontier=nxt.count(),
        )


# ---------------------------------------------------------------------------


# end-to-end metric -> unit (--trace 0)
E2E = {
    "setup_s": "s",
    "urls_per_s": "1/s",
    "round_s_p50": "s",
    "jvm_heap_mb": "MB",
    "jvm_non_heap_mb": "MB",
    "worker_mem_mb": "MB",
    "warehouse_kb_per_url": "KB",
}

# per-layer metric -> unit (--trace 1); a layer that does no work on a
# workload (the cuckoo filter on bulk_round, say) reports 0
LAYERS = {
    "engine.self_s": "s",
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.tasks_failed": "count",
    "dedup.s": "s",
    "dedup.pass_frac": "ratio",
    "dedup.cuckoo_probe_s": "s",
    "dedup.cuckoo_insert_s": "s",
    "politeness.s": "s",
    "politeness.admit_frac": "ratio",
    "fetcher.s": "s",
    "fetcher.rows": "count",
    "fetcher.ok_frac": "ratio",
    "fetcher.retry_rows": "count",
    "fetcher.media_bytes": "B",
    "parse.s": "s",
    "parse.docs_out": "count",
    "parse.error_frac": "ratio",
    "documents.s": "s",
    "frontier.s": "s",
    "frontier.successor_rows": "count",
    "frontier.rows": "count",
    "multimodal.sniff_s": "s",
    "storage.stage_merge_s": "s",
    "storage.stage_append_s": "s",
    "storage.stage_overwrite_s": "s",
    "storage.commit_multi_s": "s",
    "storage.expire_s": "s",
    "storage.read_s": "s",
    "storage.bytes_written": "B",
    "storage.files_written": "count",
    "trace.round_s": "s",
    "trace.overhead_s": "s",
    "trace.span_coverage": "ratio",
    "trace.counts_match": "bool",
    "trace.spans": "count",
}


def run(spark, name: str, work: str, seed: int, seconds: float, trace: bool,
        session_s: float, spans_out: str) -> Result:
    recorder = SpanRecorder() if trace else None
    c = Crawl(spark, name, work, seed, recorder)
    _, gen_s = timed(c.build)
    c.reference()
    # round 0 is the warm-up; round times keep falling for a few rounds
    # more while the JIT compiles the round's hot paths, which the median
    # of the timed rounds absorbs
    warm_s = c.round(timed_round=False)
    log(f"{name}: session {session_s:.2f}s, inputs {gen_s:.2f}s, "
        f"warm-up round {warm_s:.2f}s")
    res = Result()
    try:
        if trace:
            res.metrics = traced_loop(c, seconds)
        else:
            closed_loop(lambda i: c.guarded_round(), seconds, MIN_TIMED_ROUNDS)
    except Exception:
        pass  # counted as failed where it was raised; the state is not trusted
    good = c.failed == 0 and c.check()
    if not good:  # a wrong end state (or warm-up round) fails every round
        c.failed = c.attempted
    log(f"{name}: {len(c.round_s)} timed rounds {['%.2f' % s for s in c.round_s]}, "
        f"{c.timed_sched} URLs scheduled; check {'ok' if good else 'FAILED'}")
    if trace:
        recorder.dump(spans_out)
        log(f"{name}: spans written to {spans_out}")
    else:
        res.metrics = {
            "setup_s": session_s + gen_s + warm_s,
            "urls_per_s": c.timed_sched / sum(c.round_s) if c.round_s else 0.0,
            "round_s_p50": median(c.round_s),
            "warehouse_kb_per_url": dir_footprint(c.storage.warehouse)[0] / 1024.0
            / max(sum(r.scheduled for r in c.rounds), 1),
        }
    res.attempted, res.failed, res.samples = max(c.attempted, 1), c.failed, c.round_s
    # the injected failures, per committed round (warm-up round 0 first):
    # failed rows are retried next round unless dead-lettered
    res.diagnostic = {
        "round_failed": [r.failed for r in c.rounds],
        "round_dead": [r.dead_lettered for r in c.rounds],
    }
    return res


def traced_loop(c: Crawl, seconds: float) -> dict:
    """Per iteration: a round with the recorder off, the staged replica of
    the next round, that round traced, and another round with the recorder
    off.  Round times still fall from round to round after the warm-up, so
    the traced round is compared with the mean of the two around it.
    Returns the per-layer metrics (medians over iterations)."""
    rec: SpanRecorder = c.recorder
    sc = c.spark.sparkContext
    jobs = JobCounter(sc)
    replica = Replica(c)
    rows: list[dict] = []
    plain_s: list[float] = []  # mean of the untraced rounds around each traced one
    traced_s: list[float] = []

    def plain_round() -> float:
        rec.enabled = False
        try:
            return c.guarded_round()
        finally:
            rec.enabled = True

    def step(_i: int) -> None:
        before = plain_round()
        sc.setJobGroup("bench-replica", "staged replica")
        with rec.span("replica", c.round_no) as rroot:
            rep = replica.run(rroot)
        jobs.take()
        sc.setJobGroup("bench-round", f"round {c.round_no}")
        with rec.span("round", c.round_no) as root:
            rec.current = root
            try:
                traced_s.append(c.guarded_round())
            finally:
                rec.current = None
        counts = jobs.take()
        rs = c.rounds[-1]
        expect = dict(scheduled=rs.scheduled, ok=rs.ok, failed=rs.failed,
                      dead=rs.dead_lettered,
                      next_frontier=c.storage.read("frontier").count())
        got = {k: rep[k] for k in expect}
        if got != expect:
            c.failed += 1
            log(f"replica counts {got} != engine {expect}")
        rows.append(layer_row(rec, root, rroot, rep, counts))
        plain_s.append((before + plain_round()) / 2)

    try:
        closed_loop(step, seconds)
    except Exception:
        traceback.print_exc()
        c.failed += 1
    if not rows:
        return dict.fromkeys(LAYERS, 0.0)
    vals = {k: median([r[k] for r in rows]) for k in rows[0]}
    layer_s = vals.pop("_layer_s")
    vals["trace.round_s"] = median(traced_s)
    vals["trace.overhead_s"] = median(traced_s) - median(plain_s)
    vals["trace.span_coverage"] = layer_s / median(plain_s)
    vals["trace.counts_match"] = 1.0 if c.failed == 0 else 0.0
    vals["trace.spans"] = len(rec.spans)
    return vals


def layer_row(rec: SpanRecorder, root: dict, rroot: dict, rep: dict, counts: dict) -> dict:
    """Per-layer values of one traced round and its replica."""
    kids = rec.children(root)
    storage_s: dict[str, float] = collections.defaultdict(float)
    for s in kids:
        storage_s[s["name"]] += s["end"] - s["start"]
    rep_s = collections.defaultdict(float, {
        s["name"]: s["end"] - s["start"] for s in rec.children(rroot)
    })
    cuckoo = "dedup.cuckoo_insert" in rep_s
    return {
        "engine.self_s": self_time(root, kids),
        "engine.jobs": counts["jobs"],
        "engine.stages": counts["stages"],
        "engine.tasks": counts["tasks"],
        "engine.tasks_failed": counts["tasks_failed"],
        "dedup.s": rep_s["dedup"],
        "dedup.pass_frac": rep["candidates"] / max(rep["frontier_in"], 1),
        "dedup.cuckoo_probe_s": rep_s["dedup"] if cuckoo else 0.0,
        "dedup.cuckoo_insert_s": rep_s["dedup.cuckoo_insert"],
        "politeness.s": rep_s["politeness"],
        "politeness.admit_frac": rep["scheduled"] / max(rep["candidates"], 1),
        "fetcher.s": rep_s["fetcher"],
        "fetcher.rows": rep["fetched"],
        "fetcher.ok_frac": rep["fetch_ok"] / max(rep["fetched"], 1),
        "fetcher.retry_rows": rep["retry_rows"],
        "fetcher.media_bytes": rep["media_bytes"],
        "parse.s": rep_s["parse"],
        "parse.docs_out": rep["docs_out"],
        "parse.error_frac": rep["parse_errors"] / max(rep["fetched"], 1),
        "documents.s": rep_s["documents"],
        "frontier.s": rep_s["frontier"],
        "frontier.successor_rows": rep["successors"],
        "frontier.rows": rep["next_frontier"],
        "multimodal.sniff_s": rep_s["multimodal.sniff"],
        "storage.stage_merge_s": storage_s["storage.stage_merge"],
        "storage.stage_append_s": storage_s["storage.stage_append"],
        "storage.stage_overwrite_s": storage_s["storage.stage_overwrite"],
        "storage.commit_multi_s": storage_s["storage.commit_multi"],
        "storage.expire_s": storage_s["storage.expire"],
        "storage.read_s": storage_s["storage.read"],
        "storage.bytes_written": sum(s["counts"].get("bytes_written", 0) for s in kids),
        "storage.files_written": sum(s["counts"].get("files_written", 0) for s in kids),
        "_layer_s": sum(rep_s.values()),
    }
