"""``archive_ingest`` workload: the reference's own write path.

A pass grows one archive from empty, as one closed-loop client, so
every pass does the same work whatever the run length:

- a RouteViews v4 backlog is published through ``batch_ingest``;
- then one day: ``Downloader.run_cycle`` once per source, over a
  Maxmind snapshot source and RouteViews v4 and v6 sources (each
  RouteViews log has gained one file), then a second Maxmind cycle,
  which finds the snapshot unchanged: an in-scope duplicate;
- then ``IncrementalMinhashDedup.process_batch`` over each of the
  seed-split document deltas in turn, against a frozen corpus.

A seeded fifth of the fetched URLs fail once and succeed on retry
(no-op ``sleep``).  Every append to the inventory is probed by the
next item's cycle.

Every source is a seeded file under the run's work directory, fetched
through ``file://`` URLs: driver-side by an injected ``Fetcher``,
executor-side by ``batch_ingest``'s own ``urllib`` fetch.
"""

from __future__ import annotations

import calendar
import dataclasses
import datetime as dt
import functools
import hashlib
import os
import random
import shutil
import statistics
import sys
import time

from spans import Tracer

BACKLOG = 30  # backlog files published by batch_ingest
DEDUP_BATCHES = 2  # document deltas, processed in turn
FAIL_RATE = 0.2  # share of fetched URLs that fail once (an archive fetches ~6)
INC_MOD = 10  # dedup_minhash_incremental's delta rule: doc_id % 10 == 0


def _payload(rng: random.Random, tag: str) -> bytes:
    n = rng.randint(2048, 6144)
    return tag.encode() + b"\n" + rng.randbytes(n)


class Sources:
    """Seeded remote files: two RouteViews creation logs with their
    payloads, and a Maxmind snapshot."""

    def __init__(self, root: str, seed: int) -> None:
        self.root = root
        rng = random.Random(seed)
        self.day0 = dt.date(2024, rng.randint(2, 12), rng.randint(1, 28))
        self.rv = {}
        for fam, n_backlog in (("rv4", BACKLOG), ("rv6", 0)):
            entries = []  # (seqnum, unix ts, relative path)
            seq = rng.randint(1000, 5000)
            first = self.day0 - dt.timedelta(days=n_backlog)
            for i in range(n_backlog + 1):
                day = first + dt.timedelta(days=i)
                ts = calendar.timegm((day.year, day.month, day.day, 12, 0, 0))
                path = f"{day:%Y/%m}/routeviews-{fam}-{day:%Y%m%d}-1200.pfx2as.gz"
                entries.append((seq, ts, path))
                seq += 1
                # a re-published log line: same path (and bytes), new seqnum
                if i < n_backlog and rng.random() < 0.05:
                    entries.append((seq, ts + 60, path))
                    seq += 1
            for _, _, path in entries:
                full = os.path.join(root, fam, path)
                if not os.path.exists(full):
                    os.makedirs(os.path.dirname(full), exist_ok=True)
                    with open(full, "wb") as f:
                        f.write(_payload(rng, path))
            self.rv[fam] = entries
        self.snapshot = os.path.join(root, "maxmind", "GeoLite2-City.tar.gz")
        os.makedirs(os.path.dirname(self.snapshot), exist_ok=True)
        with open(self.snapshot, "wb") as f:
            f.write(_payload(rng, "geolite2"))
        self.fail_seed = seed

    def log_url(self, fam: str) -> str:
        return f"file://{self.root}/{fam}/pfx2as-creation.log"

    def write_logs(self, day: int) -> None:
        """Creation logs as published on ``day``: -1 (the backlog only)
        or 0 (the backlog plus the day's line)."""
        for fam, entries in self.rv.items():
            visible = [e for e in entries if e[1] <= self._cutoff(day)]
            lines = ["# pfx2as creation log", "# seqnum\ttimestamp\tpath"]
            lines += [f"{s}\t{t}\t{p}" for s, t, p in visible]
            with open(os.path.join(self.root, fam, "pfx2as-creation.log"), "w") as f:
                f.write("\n".join(lines) + "\n")

    def _cutoff(self, day: int) -> int:
        d = self.day0 + dt.timedelta(days=day)
        return calendar.timegm((d.year, d.month, d.day, 23, 0, 0))

    def backlog_items(self) -> list[tuple[int, str]]:
        cut = self._cutoff(-1)
        return [
            (s, f"file://{self.root}/rv4/{p}") for s, t, p in self.rv["rv4"] if t <= cut
        ]

    def fails_once(self, url: str) -> bool:
        h = hashlib.sha1(f"{self.fail_seed}:{url}".encode()).digest()
        return h[0] < 256 * FAIL_RATE


class SeededFetcher:
    """Serves ``file://`` URLs; the URLs ``Sources`` marks fail on
    their first fetch."""

    def __init__(self, sources: Sources, tracer: Tracer) -> None:
        self.sources = sources
        self.tracer = tracer
        self.failed: set[str] = set()
        self.items = 0
        self.retries = 0

    def fetch(self, url: str, auth=None) -> bytes:
        from downloader_spark.ingest.fetcher import FetchError

        with self.tracer.span("fetch", url):
            if url not in self.failed and self.sources.fails_once(url):
                self.failed.add(url)
                self.retries += 1
                raise FetchError(f"injected transient failure: {url}")
            if not url.endswith(".log"):
                self.items += 1
            with open(url[len("file://"):], "rb") as f:
                return f.read()


class TimedStore:
    """Driver-side ``Store`` wrapper: spans around put/copy."""

    def __init__(self, inner, tracer: Tracer) -> None:
        self.inner = inner
        self.tracer = tracer
        self.puts = 0

    def put(self, name, data):
        self.puts += 1
        with self.tracer.span("put", name):
            self.inner.put(name, data)

    def copy(self, src, dst):
        with self.tracer.span("copy", dst):
            self.inner.copy(src, dst)

    def get(self, name):
        return self.inner.get(name)

    def delete(self, name):
        self.inner.delete(name)

    def exists(self, name):
        return self.inner.exists(name)

    def list(self, prefix=""):
        return self.inner.list(prefix)


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class ArchiveIngest:
    name = "archive_ingest"

    def __init__(self, spark, seed: int, data_dirs: list[str], tracer: Tracer, work: str) -> None:
        from downloader_spark.ingest.config import routeviews_source

        self.spark = spark
        self.data_dir = data_dirs[0]
        self.tracer = tracer
        self.work = os.path.join(work, "ingest")
        shutil.rmtree(self.work, ignore_errors=True)
        self.sources = Sources(os.path.join(self.work, "remote"), seed)
        self.rv = [
            routeviews_source(
                f"routeviews-{fam}",
                self.sources.log_url(fam),
                f"RouteViewIP{fam[-1]}/",
                f"RouteViewIP{fam[-1]}/current/routeview.pfx2as.gz",
            )
            for fam in ("rv4", "rv6")
        ]
        delta = self._delta_ids()
        random.Random(seed).shuffle(delta)
        self.batches = [sorted(delta[i::DEDUP_BATCHES]) for i in range(DEDUP_BATCHES)]
        self.dedup = None
        self.archive: dict | None = None
        self.min_passes = 3  # per-operation medians need three samples
        self.nominal_pass_s = 5.5  # one archive on 4 cores; sizes the run from --seconds
        self.layer: list[dict] = []  # per traced pass

    def _delta_ids(self) -> list[int]:
        import pyarrow.parquet as pq

        ids = pq.read_table(
            os.path.join(self.data_dir, "documents.parquet"), columns=["doc_id"]
        ).column("doc_id").to_pylist()
        return [i for i in ids if i % INC_MOD == 0]

    def _maxmind(self):
        from downloader_spark.ingest.config import maxmind_sources

        d = self.sources.day0
        spec = maxmind_sources(f"{d:%Y/%m/%d}/", f"{d:%Y%m%d}T120000Z-")[0]
        return dataclasses.replace(spec, url="file://" + self.sources.snapshot)

    def _open(self, name: str, tr: Tracer) -> dict:
        from downloader_spark.ingest.pipeline import Downloader
        from downloader_spark.ingest.store import LocalFSStore

        root = os.path.join(self.work, name)
        shutil.rmtree(root, ignore_errors=True)
        store_root = os.path.join(root, "store")
        store = TimedStore(LocalFSStore(store_root), tr)
        fetcher = SeededFetcher(self.sources, tr)
        dl = Downloader(
            self.spark, store, fetcher, os.path.join(root, "state"),
            retry_min_s=1, retry_max_s=4, sleep=lambda s: None,
        )
        return {"root": root, "store_root": store_root, "store": store,
                "fetcher": fetcher, "dl": dl}

    def _publish_backlog(self, ar: dict, items: list[tuple[int, str]]) -> bool:
        from downloader_spark.ingest.batch import batch_ingest
        from downloader_spark.ingest.store import LocalFSStore

        self.sources.write_logs(-1)
        s = batch_ingest(
            self.spark, self.rv[0], items, ar["store"],
            functools.partial(LocalFSStore, ar["store_root"]), ar["dl"].inventory,
        )
        # the backlog's newest line: cycles continue from there
        ar["dl"].watermarks.set(self.rv[0].name, items[-1][0])
        return s["failed"] == 0

    def _day(self, ar: dict, op) -> None:
        """The day's cycles, then every document delta."""
        from pyspark.sql import functions as F

        from downloader_spark.io import load_table

        self.sources.write_logs(0)
        dl = ar["dl"]
        mm = self._maxmind()
        for name, spec in ((mm.name, mm), (self.rv[0].name, self.rv[0]),
                           (self.rv[1].name, self.rv[1]), (f"{mm.name}:again", mm)):
            op("cycle", name, functools.partial(dl.run_cycle, [spec]), "ingest:cycle")
        docs = load_table(self.spark, self.data_dir, "documents")
        for b, ids in enumerate(self.batches):
            delta = docs.filter(F.col("doc_id").isin(ids))
            op("process_batch", f"process_batch:{b}",
               functools.partial(self.dedup.process_batch, delta, b), "streaming:process_batch")

    def warm_up(self) -> None:
        """Set-up: seed the frozen dedup corpus (the one-time bootstrap
        from an existing archive)."""
        from pyspark.sql import functions as F

        from downloader_spark.io import load_table
        from downloader_spark.streaming.incremental_dedup import IncrementalMinhashDedup

        self.dedup_dir = os.path.join(self.work, "dedup-state")
        self.dedup = IncrementalMinhashDedup(self.spark, self.dedup_dir, append_corpus=False)
        docs = load_table(self.spark, self.data_dir, "documents")
        self.dedup.seed_corpus(docs.filter(F.col("doc_id") % INC_MOD != 0))

    def settle(self) -> None:
        """Untimed: a throw-away archive (a 5-file backlog and one day)
        through every code path, so no timed call pays first-run costs."""
        tr = Tracer()
        ar = self._open("warm-up", tr)
        self._publish_backlog(ar, self.sources.backlog_items()[-5:])
        self._day(ar, lambda span, name, fn, group: fn())
        shutil.rmtree(ar["root"], ignore_errors=True)

    def run_pass(self, data_dir: str, traced: bool) -> list[tuple[str, float, bool]]:
        """One archive from empty: the backlog, then the day.  Returns
        (operation, seconds, ok) per call."""
        tr = self.tracer if traced else Tracer()
        ops: list[tuple[str, float, bool]] = []

        def op(span: str, name: str, fn, group: str):
            t0 = time.perf_counter()
            ok = False
            try:
                with tr.span(span, name, group=group):
                    ok = fn() is not False
            except Exception as e:  # noqa: BLE001 - counted as a failed op
                print(f"archive_ingest: {name} failed: {e}", file=sys.stderr)
            ops.append((name, time.perf_counter() - t0, ok))

        shutil.rmtree(os.path.join(self.dedup_dir, "matches"), ignore_errors=True)
        self.archive = ar = self._open("archive", tr)
        backlog = self.sources.backlog_items()
        op("backlog", "backlog", functools.partial(self._publish_backlog, ar, backlog),
           "ingest:backlog")
        backlog_s, backlog_puts = ops[-1][1], ar["store"].puts
        self._day(ar, op)
        if traced:
            # the day's figures only: the backlog's executor-side fetches
            # bypass the fetcher
            self.layer.append({
                "backlog_items_per_s": len(backlog) / backlog_s,
                "items": ar["fetcher"].items,
                "puts": ar["store"].puts - backlog_puts,
                "retries": ar["fetcher"].retries,
            })
        return ops

    # ------------------------------------------------------------ checks

    def _expected(self) -> tuple[dict, dict, dict]:
        """Ground truth of the archive from the source files: distinct
        (scope, md5) -> size, newest payload per current pointer,
        newest seqnum per RouteViews source."""
        from downloader_spark.ingest.store import md5_hex

        objects: dict[tuple[str, str], int] = {}
        current: dict[str, bytes] = {}

        def seen(spec, url: str) -> None:
            with open(url[len("file://"):], "rb") as f:
                data = f.read()
            key = (spec.dedup_scope(spec.object_name(url)), md5_hex(data))
            if key not in objects:
                objects[key] = len(data)
                current[spec.current_name] = data

        for _, url in self.sources.backlog_items():
            seen(self.rv[0], url)
        mm = self._maxmind()
        seen(mm, mm.url)
        watermarks = {}
        cut = self.sources._cutoff(0)
        for spec, fam in zip(self.rv, ("rv4", "rv6")):
            rows = [(s, p) for s, t, p in self.sources.rv[fam] if t <= cut]
            watermarks[spec.name] = max(s for s, _ in rows)
            for _, p in rows:
                seen(spec, f"file://{self.sources.root}/{fam}/{p}")
        return objects, current, watermarks

    def check(self, data_dir: str) -> tuple[int, int]:
        """The archive invariants plus the streaming dedup equivalence.
        Returns (checks, failures)."""
        from downloader_spark.plans.registry import registry

        dl, store = self.archive["dl"], self.archive["store"]
        objects, current, watermarks = self._expected()
        inv_rows = dl.inventory.load(self.spark).collect()
        published = [
            n for n in store.list() if n not in current and not n.startswith("_staging/")
        ]
        results = {
            "published objects = distinct (scope, md5)": (
                {(r.scope, r.md5) for r in inv_rows} == set(objects)
                and len(inv_rows) == len(objects)
            ),
            "current pointers hold the newest payload": all(
                store.get(name) == data for name, data in current.items()
            ),
            "watermarks = newest seqnum": all(
                dl.watermarks.get(name) == s for name, s in watermarks.items()
            ),
            "inventory rows = published objects": len(inv_rows) == len(published),
        }
        cols = ("doc_a", "doc_b", "inter_size", "union_size", "jacc_ppm")
        got = {tuple(r) for r in self.dedup.matches().select(*cols).collect()}
        want = {
            tuple(r)
            for r in registry()["dedup_minhash_incremental"]
            .fn(self.spark, self.data_dir).select(*cols).collect()
        }
        results["delta matches = dedup_minhash_incremental"] = got == want and len(got) > 0
        self.matches = len(got)  # for the layer record; the session stops before it
        bad = [k for k, v in results.items() if not v]
        for k in bad:
            print(f"archive_ingest: invariant failed: {k}", file=sys.stderr)
        return len(results), len(bad)

    # ------------------------------------------------------------ layers

    def layer_metrics(self, jobs_by_group: dict[str, float]) -> dict[str, float]:
        """Ingest and streaming layer metrics per traced pass (one
        archive), and the last archive's and the dedup state's size."""
        tr, n = self.tracer, max(1, len(self.layer))
        cycle = tr.total("cycle")
        fetch = tr.total("fetch", under="cycle")
        put = tr.total("put", under="cycle")
        copy = tr.total("copy", under="cycle")
        items = max(1, sum(r["items"] for r in self.layer))
        puts = sum(r["puts"] for r in self.layer)
        objects, _, _ = self._expected()
        inv_dir = os.path.join(self.archive["root"], "state", "inventory")
        _, stored = _dir_stats(self.archive["root"])
        st_files, st_bytes = _dir_stats(self.dedup_dir)
        return {
            "ingest.fetch_s": fetch / n,
            "ingest.store_put_s": put / n,
            "ingest.store_copy_s": copy / n,
            "ingest.catalog_s": (cycle - fetch - put - copy) / n,
            "ingest.store_put_n": puts / n,
            "ingest.jobs_per_item": jobs_by_group.get("ingest:cycle", 0.0) / items,
            "ingest.inventory_files": float(
                sum(1 for f in os.listdir(inv_dir) if f.endswith(".parquet"))
            ),
            "ingest.dup_frac": 1.0 - puts / items,
            "ingest.retries": sum(r["retries"] for r in self.layer) / n,
            "ingest.backlog_items_per_s": statistics.median(
                r["backlog_items_per_s"] for r in self.layer
            ),
            "ingest.stored_bytes_per_unique_byte": stored / max(1, sum(objects.values())),
            "streaming.jobs_per_batch": jobs_by_group.get("streaming:process_batch", 0.0)
            / (n * DEDUP_BATCHES),
            "streaming.state_files": float(st_files),
            "streaming.state_mb": st_bytes / 1e6,
            "streaming.matches": float(self.matches),
        }
