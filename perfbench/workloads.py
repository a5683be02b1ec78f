"""The benchmark's three workloads.

Each workload is driven as a closed loop by one client (this process):
``call`` submits one batch, waits for the full result, and returns it;
the runner calls it again until the measuring window has passed.
Every input comes from ``fixtures.generate_site(seed=...)``, so outputs
are checked against ``reference_sim`` and the generator's oracle
``text`` column.

- ``site_crawl``: many tiny client-mode crawls in one engine run, in
  production configuration (robots crawl-delay on every host, Bloom
  seen-prefilter), in-memory state. Each request is small, so the crawl
  loop's per-superstep fixed cost dominates.
- ``deep_crawl``: a few longer crawls whose per-host politeness quota
  is smaller than the BFS level width, with Bloom prefilter and a
  checkpoint catalog in a fresh directory per call: the frontier, seen
  set, Bloom blobs and catalog snapshots grow every superstep.
- ``bulk_extract``: ``extract_udf`` over a generated page store that
  includes oversized pages; no crawl layer runs, so crawl-loop changes
  should leave it unchanged.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

from website_to_agent_spark import extraction, fixtures, reference_sim
from website_to_agent_spark.functions import urlfns
from website_to_agent_spark.functions.extract import _decode, extract_udf
from website_to_agent_spark.operators import bloom, politeness
from website_to_agent_spark.operators.crawl import CrawlEngine, CrawlJob
from website_to_agent_spark.sources.catalog import SnapshotCatalog

ROBOTS_DDL = "host string, disallow array<string>, crawl_delay double"
BLOOM_BITS = 1 << 20   # CrawlEngine's default bloom_bits


def _noop(df) -> None:
    """Materialize every column of ``df`` without moving it to the driver."""
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


class Workload:
    """One workload: inputs built in ``setup``, one batch per ``call``,
    a correctness gate in ``check``, per-layer probes in ``layer_probes``."""

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer

    def release(self, keep_state: bool = False) -> None:
        """Free what the last call left behind, outside the timed region."""

    def instrument(self) -> None:
        """Install the traced run's spans around calls into the layers."""

    def call_facts(self) -> dict:
        """Facts about the last call that a traced run reports."""
        return {}


class CrawlWorkload(Workload):
    N_PAGES = 300
    CRAWL_DELAY = 0.0
    CATALOG = False

    def setup(self) -> None:
        self.site = fixtures.generate_site(
            n_pages=self.N_PAGES, seed=self.seed, big_text_pages=0
        )
        self.pages = fixtures.pages_rows_to_spark(
            self.spark, self.site.rows
        ).localCheckpoint(eager=True)
        self.html = {r["url"]: r["html"] for r in self.site.rows}
        self.oracle_text = {r["url"]: r["text"] for r in self.site.rows}
        hosts = sorted({u.split("/")[2] for u in self.html})
        self.robots = self.spark.createDataFrame(
            [(h, [], self.CRAWL_DELAY) for h in hosts], ROBOTS_DDL
        ).localCheckpoint(eager=True)
        self.jobs = self.make_jobs(hosts)
        self._calls = 0

    def make_jobs(self, hosts: list) -> list:
        """The batch of crawl jobs. Jobs depend only on the site's link
        structure, which ``generate_site`` derives from page indices:
        every seed yields the same crawl shape over different page text."""
        raise NotImplementedError

    def _engine(self, ckdir):
        return CrawlEngine(
            self.spark, self.pages, mode="client", robots=self.robots,
            use_bloom=True, checkpoint_dir=ckdir,
        )

    def _fresh_ckdir(self):
        if not self.CATALOG:
            return None
        self._calls += 1
        return os.path.join(self.work, f"catalog-{self._calls}")

    def warm(self) -> None:
        """Compile the engine's plan shapes and start the Python workers:
        a one-job crawl in the workload's own configuration, two
        supersteps deep."""
        ckdir = self._fresh_ckdir()
        res = self._engine(ckdir).run(
            [CrawlJob("warm", self.jobs[0].seed_url, max_urls=2)]
        )
        res.crawled.select("job_id", "url", "fetch_ord", "success",
                           "text").collect()
        res.unpersist()
        if ckdir:
            shutil.rmtree(ckdir, ignore_errors=True)

    def call(self):
        """One closed-loop request: run the batch of crawl jobs and
        materialize its result. Returns (pages fetched and extracted
        successfully, rows for the correctness gate)."""
        ckdir = self._fresh_ckdir()
        tr = self.tracer
        with tr.span("crawl.run"):
            res = self._engine(ckdir).run(self.jobs)
        with tr.span("crawl.collect"):
            rows = res.crawled.select(
                "job_id", "url", "fetch_ord", "success", "text"
            ).collect()
        self._last = (res, ckdir, rows)
        return sum(1 for r in rows if r.success), rows

    def release(self, keep_state: bool = False) -> None:
        """Free the last call's checkpoints and catalog (outside the
        timed region); ``keep_state`` first collects what the traced
        run's layer probes need."""
        res, ckdir, rows = self._last
        if keep_state:
            self._facts = {
                "supersteps": res.supersteps,
                "step_secs": [
                    r.secs for r in res.metrics.select("superstep", "secs")
                    .distinct().collect()
                ],
                "catalog_bytes": _dir_bytes(ckdir) if ckdir else 0,
                "seen": res.seen.select("job_id", "url", "depth", "ord")
                .collect(),
                "fetched": sorted({r.url for r in rows if r.success}),
            }
        res.unpersist()
        if ckdir:
            shutil.rmtree(ckdir, ignore_errors=True)

    def check(self, rows) -> tuple[int, int]:
        """(URLs wrong, URLs checked): per job, the fetch order and the
        fetched (seen) set against ``reference_sim.client_crawl``; per
        successful page, ``text`` byte for byte against the oracle."""
        if not hasattr(self, "_ref"):
            store = self.site.as_store()
            self._ref = {
                j.job_id: reference_sim.client_crawl(
                    store, j.seed_url, max_urls=j.max_urls
                )["records"]
                for j in self.jobs
            }
        by_job: dict[str, list] = {}
        for r in rows:
            by_job.setdefault(r.job_id, []).append(r)
        wrong = checked = 0
        for job_id, ref in self._ref.items():
            got = sorted(by_job.get(job_id, []), key=lambda r: r.fetch_ord)
            for i in range(max(len(got), len(ref))):
                checked += 1
                g = got[i] if i < len(got) else None
                e = ref[i] if i < len(ref) else None
                if (
                    g is None or e is None or g.url != e.url
                    or bool(g.success) != e.success
                    or (g.success and g.text != self.oracle_text[g.url])
                ):
                    wrong += 1
        return wrong, checked

    # ------------------------------------------------------------ traced run
    def instrument(self) -> None:
        """Spans around every call the engine makes into the politeness,
        Bloom and catalog layers (traced runs only)."""
        tr = self.tracer
        tr.wrap(politeness, "polite_drain", "politeness.polite_drain")
        tr.wrap(politeness, "robots_filter", "politeness.robots_filter")
        tr.wrap(bloom, "build_blooms", "bloom.build_blooms")
        tr.wrap(bloom, "add_to_blooms", "bloom.add_to_blooms")
        tr.wrap(bloom, "bloom_anti_join", "bloom.bloom_anti_join")
        tr.wrap(SnapshotCatalog, "commit", "catalog.commit")
        tr.wrap(SnapshotCatalog, "read", "catalog.read")

    def call_facts(self) -> dict:
        f = self._facts
        return {"supersteps": f["supersteps"], "step_secs": f["step_secs"],
                "catalog_bytes": f["catalog_bytes"]}

    def layer_probes(self) -> dict:
        """Standalone, materialized calls into each layer on the state the
        last crawl produced: its seen set as a frontier, its fetched
        pages, and the links those pages discover."""
        spark, f = self.spark, self._facts
        out: dict = {}

        # extraction kernel, single-threaded in this process, and the
        # links the fetched pages discover (the Bloom probe's candidates)
        kernel_s, cands = 0.0, set()
        for url in f["fetched"]:
            html = _decode(self.html[url])
            t0 = time.perf_counter()
            rec = extraction.extract_page(html, url)
            kernel_s += time.perf_counter() - t0
            base = url.split("/")[2]
            cands.update(u for u, _ in rec["links"]
                         if extraction.client_link_ok(u, base))
        n = max(1, len(f["fetched"]))
        out["extract.kernel_s_per_page"] = kernel_s / n
        fetched = spark.createDataFrame(
            [(u, self.html[u]) for u in f["fetched"]], "url string, html binary"
        ).localCheckpoint(eager=True)
        out["extract.udf_s"] = statistics.median(
            _timed(lambda: _noop(fetched.select(
                extract_udf("url", "html").alias("e"))))
            for _ in range(3)
        )
        out["extract.mb"] = sum(len(self.html[u]) for u in f["fetched"]) / 1e6

        frontier = spark.createDataFrame(
            f["seen"], "job_id string, url string, depth int, ord long"
        ).localCheckpoint(eager=True)
        t0 = time.perf_counter()
        batch, held = politeness.polite_drain(
            frontier, self.robots, superstep_secs=1.0, superstep=0)
        batch.count()
        n_held = held.count()
        out["politeness.drain_s"] = time.perf_counter() - t0
        # frontier URLs the per-host quota holds back for a later superstep
        out["politeness.held_share"] = n_held / max(1, len(f["seen"]))
        candidates = spark.createDataFrame(
            [("probe", u) for u in sorted(cands)], "job_id string, url string"
        ).localCheckpoint(eager=True)
        out["politeness.robots_filter_s"] = _timed(
            lambda: _noop(politeness.robots_filter(candidates, self.robots))
        )

        # Bloom blobs keyed like the engine's: built from the first half
        # of the seen set, the second half folded in, then the discovered
        # links probed against the result
        dom = urlfns.reg_domain(urlfns.host(F.col("url")))
        half = len(f["seen"]) // 2
        first = spark.createDataFrame(
            [(r.url,) for r in f["seen"][:half]], "url string"
        ).select(dom.alias("reg_domain"), "url")
        rest = spark.createDataFrame(
            [(r.url,) for r in f["seen"][half:]], "url string"
        ).select(dom.alias("reg_domain"), "url")
        t0 = time.perf_counter()
        blooms = bloom.build_blooms(
            first, n_bits=BLOOM_BITS).localCheckpoint(eager=True)
        t1 = time.perf_counter()
        blooms = bloom.add_to_blooms(
            blooms, rest, n_bits=BLOOM_BITS).localCheckpoint(eager=True)
        t2 = time.perf_counter()
        counts = dict(
            bloom.probe_blooms(
                candidates.select(dom.alias("reg_domain"), "url"), blooms,
                n_bits=BLOOM_BITS,
            ).groupBy("maybe_seen").count().collect()
        )
        t3 = time.perf_counter()
        out["bloom.build_s"] = t1 - t0
        out["bloom.fold_s"] = t2 - t1
        out["bloom.probe_s"] = t3 - t2
        out["bloom.negative_share"] = (
            counts.get(False, 0) / max(1, sum(counts.values()))
        )
        return out


class SiteCrawl(CrawlWorkload):
    """64 one-website requests, budgets in the reference UI's low range,
    seeded on evenly spaced pages so each host (the 30% hot host included)
    gets jobs in proportion to its size; crawl-delay 5 ms gives every
    host a quota above its BFS level width, so politeness is configured
    but never holds a URL back."""

    N_JOBS = 64
    BUDGETS = (1, 2, 3, 4)
    CRAWL_DELAY = 0.005

    def make_jobs(self, hosts):
        urls = sorted(u for u in self.html if "/p/" in u)
        return [
            CrawlJob(f"s{i}", urls[i * len(urls) // self.N_JOBS],
                     max_urls=self.BUDGETS[i % len(self.BUDGETS)])
            for i in range(self.N_JOBS)
        ]


class DeepCrawl(CrawlWorkload):
    """One job per registrable domain, seeded on its www host's first
    page (the 30% hot host included); crawl-delay 0.25 s gives a quota
    of 4 fetches per host per superstep, below the BFS level width, so
    the quota binds every superstep after the first; a checkpoint
    catalog commits each step."""

    BUDGET = 5
    CRAWL_DELAY = 0.25
    CATALOG = True

    def make_jobs(self, hosts):
        return [
            CrawlJob(f"d{i}", f"https://{h}/p/0.html", max_urls=self.BUDGET)
            for i, h in enumerate(h for h in hosts if h.startswith("www."))
        ]


class BulkExtract(Workload):
    """``extract_udf`` over the whole generated store, oversized pages
    included (kernel cost tracks HTML bytes); no crawl layer runs."""

    N_PAGES = 600
    BIG_PAGES = 2
    BIG_KB = 120

    def setup(self) -> None:
        site = fixtures.generate_site(
            n_pages=self.N_PAGES, seed=self.seed,
            big_text_pages=self.BIG_PAGES, big_text_kb=self.BIG_KB,
        )
        self.rows = site.rows
        self.oracle_text = {r["url"]: r["text"] for r in site.rows}
        self.pages = fixtures.pages_rows_to_spark(
            self.spark, site.rows
        ).localCheckpoint(eager=True)

    def warm(self) -> None:
        """Untimed passes: start the Python workers and Arrow serde."""
        for _ in range(4):
            self._extract()

    def _extract(self):
        return self.pages.select(
            "url", extract_udf("url", "html").getField("text").alias("text")
        ).collect()

    def call(self):
        with self.tracer.span("extract.udf"):
            rows = self._extract()
        return len(rows), rows

    def check(self, rows) -> tuple[int, int]:
        wrong = sum(1 for r in rows if r.text != self.oracle_text.get(r.url))
        return wrong + abs(len(self.oracle_text) - len(rows)), len(
            self.oracle_text)

    def layer_probes(self) -> dict:
        """The extraction kernel, single-threaded, over every page."""
        kernel_s = 0.0
        for r in self.rows:
            html = _decode(r["html"])
            t0 = time.perf_counter()
            extraction.extract_page(html, r["url"])
            kernel_s += time.perf_counter() - t0
        return {
            "extract.kernel_s_per_page": kernel_s / len(self.rows),
            "extract.mb": sum(len(r["html"]) for r in self.rows) / 1e6,
        }


WORKLOADS = {
    "site_crawl": SiteCrawl,
    "deep_crawl": DeepCrawl,
    "bulk_extract": BulkExtract,
}
