"""The three workloads: set-up, one operation, and the correctness
check each one runs after its timed loop.

Every workload owns a private state directory; nothing it writes lands
outside it. Operations return what the check needs, so checks never
run inside the timed region. ``n_ops`` is the length of a workload's
operation stream; the timed loop never runs past it. The loop also
ends only on a multiple of ``round_len`` operations.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import re
import shutil
from collections import Counter

from pyspark.sql import functions as F

import pyarrow.parquet as pq

import streams
from pyperustats_spark import api
from pyperustats_spark.functions.text import STOPWORDS
from pyperustats_spark.sources import exporter
from pyperustats_spark.sources.cache import IncrementalParquetCache, window_namespace
from pyperustats_spark.sources.ledger import CorpusLedger
from pyperustats_spark.sources.registry import load_table

STREAM_LEN = 5_000


def read_column(data_dir: str, table: str, column: str) -> list:
    return pq.read_table(os.path.join(data_dir, f"{table}.parquet"),
                         columns=[column]).column(column).to_pylist()


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


class SeriesFetch:
    """Zipf-skewed ``SeriesClient.fetch`` requests over an incremental
    cache, compacted every COMPACT_EVERY appends.

    A round is one client session: ``round_len`` requests against a
    fresh cache directory. Every round replays the same requests, and
    set-up runs one round on a throwaway cache first, so all timed
    rounds run equally warm and a run's figures do not depend on how
    many rounds fit in it. Without that, a faster program would reach
    further into one stream, where more requests hit the warmer cache,
    and look faster still."""

    name = "series_fetch"
    COMPACT_EVERY = 3
    round_len = 12
    n_ops = STREAM_LEN
    UNITS = {"M": "month", "Q": "quarter", "A": "year"}

    def __init__(self, spark, data_dir: str, state_dir: str, seed: int):
        self.spark, self.data_dir, self.state, self.seed = spark, data_dir, state_dir, seed
        self.cache_root = os.path.join(state_dir, "cache")
        self.layer_dirs = {"sources.cache": self.cache_root}
        # one daily series per supplier
        self.catalogue = [f"PS{k:04d}D" for k in sorted(read_column(data_dir, "supplier",
                                                                       "s_suppkey"))]
        self.written: set[tuple[str, tuple]] = set()
        self.hits = self.requested = self.done = 0

    def setup(self) -> None:
        src_dir = os.path.join(self.state, "source")
        lineitem = load_table(self.spark, self.data_dir, "lineitem")
        (lineitem.select(F.date_trunc("DAY", "l_shipdate").alias("date"),
                         F.format_string("PS%04dD", "l_suppkey").alias("code"),
                         "l_extendedprice")
         .groupBy("date", "code")
         .agg(F.round(F.sum("l_extendedprice"), 2).alias("value"))
         .write.parquet(src_dir))
        self.src_dir = src_dir
        self.source = self.spark.read.parquet(src_dir)
        self.requests = streams.fetch_requests(self.seed, self.catalogue, self.round_len)
        self._start_round(os.path.join(self.state, "warm"))
        for i in range(self.round_len):
            self.run_op(i)
            self.after_op(i)
        self.written.clear()
        self.hits = self.requested = self.done = 0
        self._start_round(os.path.join(self.cache_root, "round0"))

    def _start_round(self, round_dir: str) -> None:
        self.round_dir = round_dir
        self.client = api.SeriesClient(self.spark, self.source, round_dir)
        self.seen: dict[tuple, set[str]] = {}
        self.pending: set[tuple] = set()
        self.appends = 0

    def _request(self, i: int) -> streams.FetchRequest:
        return self.requests[i % self.round_len]

    def run_op(self, i: int):
        r = self._request(i)
        wide = self.client.fetch(list(r.codes), r.freq, r.start, r.end)
        return wide.columns, wide.collect()

    def after_op(self, i: int) -> None:
        """Cache bookkeeping, compaction of every namespace with
        uncompacted appends once COMPACT_EVERY appends have landed, and
        a fresh cache when a round ends."""
        r = self._request(i)
        have = self.seen.setdefault(r.namespace, set())
        new = set(r.codes) - have
        self.requested += len(r.codes)
        self.hits += len(r.codes) - len(new)
        have |= new
        if new:
            self.appends += 1
            self.pending.add(r.namespace)
            self.written.add((self.round_dir, r.namespace))
        if self.appends and self.appends % self.COMPACT_EVERY == 0 and new:
            for ns in sorted(self.pending, key=str):
                self.client.cache_for(*ns).compact()
            self.pending.clear()
        self.done = i + 1
        if self.done % self.round_len == 0:
            self._start_round(os.path.join(self.cache_root,
                                           f"round{self.done // self.round_len}"))

    def check(self, results: list) -> list[bool]:
        import duckdb

        con = duckdb.connect()
        con.execute(f"CREATE VIEW src AS SELECT * FROM '{self.src_dir}/*.parquet'")
        expected: dict[tuple, dict[tuple[str, str], float]] = {}
        ok = []
        for i, res in enumerate(results):
            r = self._request(i)
            if r.namespace not in expected:
                where = []
                if r.start:
                    where.append(f"date >= TIMESTAMP '{r.start}'")
                if r.end:
                    where.append(f"date <= TIMESTAMP '{r.end}'")
                rows = con.execute(
                    f"SELECT strftime(date_trunc('{self.UNITS[r.freq]}', date), '%Y-%m-%d'),"
                    f" code, sum(value) FROM src"
                    f" {'WHERE ' + ' AND '.join(where) if where else ''} GROUP BY 1, 2"
                ).fetchall()
                expected[r.namespace] = {(p, c): v for p, c, v in rows}
            ok.append(res is not None and self._matches(r, res, expected[r.namespace]))
        return ok

    @staticmethod
    def _matches(r, res, exp: dict) -> bool:
        cols, rows = res
        codes = sorted(r.codes)
        if cols != ["date", *codes]:
            return False
        want = {}
        for (p, c), v in exp.items():
            if c in r.codes:
                want.setdefault(p, {})[c] = v
        got = {row[0].strftime("%Y-%m-%d"): row for row in rows}
        if sorted(got) != [row[0].strftime("%Y-%m-%d") for row in rows] or set(got) != set(want):
            return False
        return all(_close(got[p][k + 1], want[p].get(c)) for p in want
                   for k, c in enumerate(codes))

    def space_amp(self) -> float:
        """Cache bytes on disk over the bytes of the same live rows
        compacted once (each namespace copied and compacted aside)."""
        ref = os.path.join(self.state, "compacted_ref")
        for round_dir, ns in self.written:
            root = os.path.join(ref, os.path.basename(round_dir))
            rel = window_namespace(*ns)
            shutil.copytree(os.path.join(round_dir, rel), os.path.join(root, rel))
            IncrementalParquetCache(self.spark, root, keys=["date", "code"],
                                    namespace=rel).compact()
        return dir_bytes(self.cache_root) / dir_bytes(ref)

    def layer_counts(self) -> dict[str, float]:
        files = sum(f.endswith(".parquet") for _d, _s, fs in os.walk(self.cache_root)
                    for f in fs)
        rounds = math.ceil(self.done / self.round_len)
        return {"sources.cache.hit_ratio": self.hits / max(self.requested, 1),
                "sources.cache.files": files / max(rounds, 1)}

    def context(self) -> dict:
        return {"catalogue_codes": len(self.catalogue), "round_requests": self.round_len,
                "compact_every": self.COMPACT_EVERY}


class CorpusRelease:
    """Seeded document batches through ``incremental_release`` against
    the corpus ledger, then ``export_shards``, then
    ``CorpusLedger.append_release`` of what shipped."""

    name = "corpus_release"
    # each release reads a larger ledger than the one before, so a run
    # ends only after whole rounds of 3: every run times the same
    # batch positions
    round_len = 3
    BATCH = 250
    SHARDS = 8
    EVAL_SHARE = 0.01
    WARMUP = 1

    def __init__(self, spark, data_dir: str, state_dir: str, seed: int):
        self.spark, self.data_dir, self.state, self.seed = spark, data_dir, state_dir, seed
        self.shard_root = os.path.join(state_dir, "shards")
        self.warehouse = os.path.join(state_dir, "warehouse")
        self.layer_dirs = {"sources.ledger": self.warehouse,
                           "sources.exporter": self.shard_root}
        self.released = self.offered = 0

    def setup(self) -> None:
        self.docs = load_table(self.spark, self.data_dir, "documents")
        self.texts = dict(zip(read_column(self.data_dir, "documents", "doc_id"),
                              read_column(self.data_dir, "documents", "text")))
        ids = sorted(self.texts)
        self.batches = streams.release_batches(self.seed, ids, self.BATCH)
        rng = random.Random(self.seed)
        self.eval_texts = [self.texts[i] for i in
                           rng.sample(ids, int(len(ids) * self.EVAL_SHARE))]
        self.eval_df = self.spark.createDataFrame([(t,) for t in self.eval_texts],
                                                  "text string")
        self.ledger = CorpusLedger(self.spark, "bench_ledger")
        self.ledger.append_release(self.docs.limit(0))
        # the timed loop starts against a ledger that already holds the
        # warm-up releases
        self.warmup = [self._release(b) for b in range(self.WARMUP)]

    def _release(self, b: int):
        ids = self.batches[b]
        batch = self.docs.where(F.col("doc_id").isin(ids))
        rel = api.incremental_release(batch, None, self.eval_df,
                                      corpus_keys=self.ledger.seen_keys(), sort=False)
        path = os.path.join(self.shard_root, f"release_{b:04d}")
        manifest = {r["shard"]: r["n_rows"] for r in
                    exporter.export_shards(rel, path, num_shards=self.SHARDS).collect()}
        shipped = exporter.load_release(self.spark, path).select("doc_id")
        self.ledger.append_release(batch.join(shipped, "doc_id", "left_semi"))
        self.offered += len(ids)
        self.released += sum(manifest.values())
        return path, manifest

    @property
    def n_ops(self) -> int:
        return len(self.batches) - self.WARMUP

    def run_op(self, i: int):
        return self._release(i + self.WARMUP)

    def after_op(self, i: int) -> None:
        pass

    def check(self, results: list) -> list[bool]:
        """Recompute each release in plain Python (content-key dedup
        against earlier releases, quality cut, eval n-gram overlap,
        md5 shard assignment) and compare doc_id sets and per-shard
        manifest counts with what landed on disk."""
        import pyarrow.dataset as pads

        seen: set[str] = set()
        eval_grams = set().union(*(_grams(t) for t in self.eval_texts))
        ok = []
        for b, res in enumerate([*self.warmup, *results]):
            ids = self.batches[b]
            keep: dict[str, int] = {}
            for d in ids:
                k = _content_key(self.texts[d])
                if k not in seen and (k not in keep or d < keep[k]):
                    keep[k] = d
            want = {d for d in keep.values()
                    if _quality(self.texts[d]) >= 0.75 and not _grams(self.texts[d]) & eval_grams}
            seen |= {_content_key(self.texts[d]) for d in want}
            if res is None:
                ok.append(False)
                continue
            path, manifest = res
            table = pads.dataset(path, format="parquet", partitioning="hive").to_table(
                columns=["doc_id", "shard"])
            got = table.column("doc_id").to_pylist()
            want_shards = Counter(_shard(d, self.SHARDS) for d in want)
            disk_shards = Counter(int(s) for s in table.column("shard").to_pylist())
            ok.append(sorted(got) == sorted(want) and disk_shards == want_shards
                      and {int(k): v for k, v in manifest.items()} == dict(want_shards))
        return ok[self.WARMUP:] if all(ok[:self.WARMUP]) else [False] * len(results)

    def space_amp(self) -> float:
        """Ledger and shard bytes on disk over the bytes of the same
        released rows landed once: one ledger append and one shard
        export of everything shipped."""
        shipped = None
        for name in sorted(os.listdir(self.shard_root)):
            part = exporter.load_release(self.spark, os.path.join(self.shard_root, name),
                                         group_col="shard").drop("shard", "pos")
            shipped = part if shipped is None else shipped.unionByName(part)
        ref_shards = os.path.join(self.state, "ref_shards")
        exporter.export_shards(shipped, ref_shards, num_shards=self.SHARDS)
        live = self.docs.join(shipped.select("doc_id"), "doc_id", "left_semi")
        ref_ledger = CorpusLedger(self.spark, "ref_ledger")
        ref_ledger.append_release(live)
        ledger_bytes = sum(dir_bytes(os.path.join(self.warehouse, d))
                           for d in os.listdir(self.warehouse) if d.startswith("bench_ledger_"))
        ref_bytes = sum(dir_bytes(os.path.join(self.warehouse, d))
                        for d in os.listdir(self.warehouse) if d.startswith("ref_ledger_"))
        return ((ledger_bytes + dir_bytes(self.shard_root))
                / (ref_bytes + dir_bytes(ref_shards)))

    def layer_counts(self) -> dict[str, float]:
        return {"api.incremental_release.keep_ratio": self.released / max(self.offered, 1)}

    def context(self) -> dict:
        return {"batch_docs": self.BATCH, "batches": len(self.batches),
                "eval_docs": len(self.eval_texts), "docs_released": self.released,
                "docs_timed": self.offered - sum(map(len, self.batches[:self.WARMUP]))}


_TOKEN = re.compile(r"[a-z0-9_']+")
_WS = re.compile(r"\s+", re.ASCII)
_PUNCT = re.compile(r"[^\w\s]", re.ASCII)


def _content_key(text: str) -> str:
    return hashlib.md5(_WS.sub(" ", text.lower()).strip(" ").encode()).hexdigest()


def _grams(text: str, n: int = 5) -> set[str]:
    toks = _TOKEN.findall(text.lower())
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _quality(text: str) -> float:
    toks = _TOKEN.findall(text.lower())
    n = len(toks)
    mwl = sum(map(len, toks)) / n if n else 0.0
    punct = (len(text) - len(_PUNCT.sub("", text))) / max(len(text), 1)
    sw = set(STOPWORDS["en"])
    density = sum(t in sw for t in toks) / n if n else 0.0
    return 0.25 * ((10 <= n <= 100_000) + (2.0 <= mwl <= 12.0)
                   + (punct <= 0.2) + (density >= 0.02))


def _shard(doc_id: int, shards: int, salt: str = "epoch0") -> int:
    return int(hashlib.md5(f"{salt}:{doc_id}".encode()).hexdigest()[:8], 16) % shards


class CatalogAnalytics:
    """Read-only catalogue, time-series and event queries from
    ``__spark_entry__.queries()``, each equally often in seeded order.

    The queries differ in cost tenfold, so a run ends only after whole
    rounds in which each runs twice: every seed then times the same
    mix."""

    name = "catalog_analytics"
    QUERIES = ("q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
               "q6_revenue_delta", "q_market_share", "catalog_search", "ev_sessionize",
               "ev_tumbling_window", "ts_resample_monthly", "ts_pivot_wide")
    TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events")
    layer_dirs: dict[str, str] = {}
    n_ops = STREAM_LEN
    round_len = 2 * len(QUERIES)

    def __init__(self, spark, data_dir: str, state_dir: str, seed: int):
        self.spark, self.data_dir, self.seed = spark, data_dir, seed

    def setup(self) -> None:
        import __spark_entry__

        self.entry = __spark_entry__
        self.order = streams.query_order(self.seed, list(self.QUERIES), self.n_ops)
        for name in self.QUERIES:
            self._query(name)

    def _query(self, name: str):
        df = self.entry.queries()[name](self.spark, self.data_dir)
        return df.columns, df.collect()

    def run_op(self, i: int):
        return self._query(self.order[i])

    def after_op(self, i: int) -> None:
        pass

    def check(self, results: list) -> list[bool]:
        import duckdb

        con = duckdb.connect()
        for t in self.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data_dir}/{t}.parquet'")
        oracles = self.entry.oracle_sql()
        expected = {}
        ok = []
        for i, res in enumerate(results):
            name = self.order[i]
            if name not in expected:
                cur = con.execute(oracles[name])
                expected[name] = _canonical([d[0] for d in cur.description], cur.fetchall())
            ok.append(res is not None and _canonical(*res) == expected[name])
        return ok

    def space_amp(self) -> None:
        return None

    def layer_counts(self) -> dict[str, float]:
        return {}

    def context(self) -> dict:
        return {"queries": list(self.QUERIES)}


def _canonical(cols: list[str], rows: list) -> tuple:
    """Order-insensitive result form: columns by name, doubles to 6
    places, rows sorted."""
    def norm(v):
        if isinstance(v, float):
            return round(v, 6)
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return v
    idx = sorted(range(len(cols)), key=lambda k: cols[k])
    return (tuple(cols[k] for k in idx),
            tuple(sorted(repr(tuple(norm(r[k]) for k in idx)) for r in rows)))


WORKLOADS = {w.name: w for w in (SeriesFetch, CorpusRelease, CatalogAnalytics)}
