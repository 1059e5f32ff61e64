"""The three workloads. Each one prepares its inputs, names its op mix, runs
one op (returning what it measured) and checks its outputs after timing.

Every call into the program is a public function of
``itdb_spark.{session,sources,plans,queries,operators,sinks}``; the
workloads never reach into the engine's internals.
"""

from __future__ import annotations

import hashlib
import math
import os
import time
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.stats import MIN_SAMPLES_P90

# Sizes. The registry queries are driver-bound at these scales (ROADMAP
# aim 1: the cost unit is the driver round-trip, not the row), so the
# benchmark keeps inputs small enough that each run fits its time budget.
REPORT_SF = 0.02  # orders 30k, lineitem 120k, documents 1000
LIB_SCALE = 0.05  # ~1k tracks, ~67 playlists, ~4k playlist items
CURATE_SF = 0.01  # 500 documents, 1500 with corpus()'s derived copies
INGEST_SF = 0.02  # 1000 documents: 600 of the 3000 corpus docs arrive in 12 batches
BATCH_DOCS = 50
BASE_SHARE = 0.8  # ingest: share of the corpus indexed before the first batch
INGEST_LEG_BATCHES = 2  # batches the traced curate run ingests after its timed passes
SETUP_REPEATS = 3  # data set-up runs this often; setup_s counts its median
MAX_LINKS = 8  # maybe_compact_chain's default: a chain folds once it passes this many links

REPORT_QUERIES = ["agg-hist-genre", "agg-pl-stats", "api-sql", "join-pt", "win-topk-group", "dedup-exact"]
# page op -> (genre_histogram "thing", user) or None for the quality page
PAGES = {"page-genre": ("Genre", 1), "page-artist": ("Artist", 1), "page-album": ("Album", 2), "page-quality": None}
CURATE_QUERIES = ["pipe-curate", "dedup-contain-exact", "graph-kcore", "fn-bpe-train"]


@dataclass
class Op:
    """What one op measured. ``phases`` maps a phase name (construct,
    action, screen, probe, accept, compact) to its wall seconds; each
    phase ran under its own Spark job group ``<op id>:<phase>``."""

    kind: str
    wall: float = 0.0
    phases: dict[str, float] = field(default_factory=dict)
    digest: tuple | None = None
    docs: int = 0
    extra: dict = field(default_factory=dict)


def digest_df(df) -> tuple[int, int]:
    """(row count, order-insensitive hash over all columns) in one Spark
    aggregate; this is the action the op is timed on."""
    from pyspark.sql import functions as F

    cols = [F.col(f"`{c}`") for c in df.columns]
    r = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.hash(*cols).cast("long")).alias("h")
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def digest_html(page: str) -> tuple[int, int]:
    rows = [ln for ln in page.splitlines() if ln.startswith("<tr><td")]
    h = sum(int.from_bytes(hashlib.md5(r.encode()).digest()[:7], "big") for r in rows)
    return len(rows), h


class Workload:
    name = ""
    default_sf = 0.0
    ops_per_pass: list[str] = []
    # Whole passes: the first pays the cold start (first JIT, Python
    # workers, parquet footers). The JVM then keeps getting faster for more
    # passes than a run's time budget holds, so every run times the same
    # fixed window of that curve instead of waiting for a plateau.
    warmup_passes = 1
    # The timed window is a fixed number of whole passes, set by --seconds
    # and never by how fast the ops run: ceil(seconds / pass_seconds), at
    # least min_passes.
    pass_seconds = 1.0
    min_passes = 1
    count_prefix = 1  # count metrics rest on the first max(pass, this) timed ops
    tail_rule = False  # op_p90_s must have MIN_ABOVE_P90 samples above it
    per_pass = False  # CPU, Spark counts and span totals are charged per pass, not per op

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        # ctx.sf shrinks a run for the smoke tests; None keeps the default
        self.sf = self.default_sf if ctx.sf is None else ctx.sf

    def timed_passes(self, seconds: float) -> int:
        return max(self.min_passes, math.ceil(seconds / self.pass_seconds))

    def phase(self, op_id: str, name: str, fn):
        """Run ``fn`` as one phase of an op: own job group, own span."""
        self.ctx.jobs.set_group(f"{op_id}:{name}")
        t0 = time.perf_counter()
        with self.ctx.tracer.span(f"{self.layer_of(name)}.{name}"):
            out = fn()
        return out, time.perf_counter() - t0

    def layer_of(self, phase: str) -> str:
        return "queries"

    def query_op(self, op_id: str, kind: str) -> Op:
        """A registry query timed as bench.py times it (``bench_spark or
        spark``): construct the frame, then digest it as the action."""
        from itdb_spark.queries import load_all

        q = load_all()[kind]
        fn = q.bench_spark or q.spark
        op = Op(kind)
        df, op.phases["construct"] = self.phase(op_id, "construct", lambda: fn(self.spark, self.sf_dir))
        op.digest, op.phases["action"] = self.phase(op_id, "action", lambda: digest_df(df))
        return op

    def prepare(self) -> None:
        """One-off input generation (not repeated)."""

    def setup_data(self, rep: int) -> dict[str, float]:
        """Data set-up, run SETUP_REPEATS times; returns named timings."""
        return {}

    def run_op(self, op_id: str, kind: str) -> Op:
        raise NotImplementedError

    def post_check(self, full: bool) -> list[str]:
        """Output checks after timing; ``full`` adds the slow ones."""
        return []

    def post_trace(self) -> dict:
        """Traced-run extras measured after timing: named figures, and
        under "ingest_ops" / "failures" the ingest batches it ran and the
        output checks they failed."""
        return {}


def oracle_failures(spark, sf_dir: str, qids: list[str], tables: list[str]) -> list[str]:
    """Graded form of each query against its DuckDB oracle, over the seeded
    tables (the tools/check_oracle.py comparison)."""
    from concurrent.futures import ThreadPoolExecutor

    import duckdb

    from itdb_spark.queries import load_all
    from tools.check_oracle import check_one

    registry = load_all()
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    # concurrent, as tools/check_oracle.py runs them: DuckDB works while
    # Spark does
    with ThreadPoolExecutor(max_workers=len(qids)) as pool:
        results = list(pool.map(lambda q: check_one(q, registry[q], spark, con, sf_dir), qids))
    con.close()
    return [msg for status, msg in results if status == "FAIL"]


class Report(Workload):
    name = "report"
    default_sf = REPORT_SF
    ops_per_pass = REPORT_QUERIES + list(PAGES)
    warmup_passes = 2
    pass_seconds = 1.0
    min_passes = MIN_SAMPLES_P90 // len(ops_per_pass)  # 100 requests: 10 above op_p90_s
    tail_rule = True

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.sf_dir = os.path.join(ctx.work, "sf")

    def layer_of(self, phase: str) -> str:
        return {"page": "plans", "render": "sinks.html"}.get(phase, "queries")

    def prepare(self) -> None:
        gen.make_star_dir(self.sf_dir, self.sf, self.ctx.seed)

    def setup_data(self, rep: int) -> dict[str, float]:
        from itdb_spark.plans.library import playlist_stats
        from itdb_spark.sources.plist import read_itunes_library

        spark = self.spark
        base = os.path.join(self.ctx.work, f"library{rep}")
        t0 = time.perf_counter()
        libs = gen.make_library(os.path.join(base, "xml"), self.ctx.seed, min(LIB_SCALE, self.sf))
        t1 = time.perf_counter()
        with self.ctx.tracer.span("sources.plist_load"):
            rels = None
            for user, d in sorted(libs.items()):
                r = read_itunes_library(spark, d, user_id=user)
                rels = r if rels is None else {k: rels[k].unionByName(v) for k, v in r.items()}
            for name, df in rels.items():
                df.write.parquet(os.path.join(base, name))
        t2 = time.perf_counter()
        with self.ctx.tracer.span("plans.playlist_stats"):
            tracks = spark.read.parquet(os.path.join(base, "tracks"))
            items = spark.read.parquet(os.path.join(base, "playlist_tracks"))
            playlist_stats(tracks, items).write.parquet(os.path.join(base, "playlist_stats"))
        t3 = time.perf_counter()
        self.lib = base
        return {"generate": t1 - t0, "sources.plist_load_s": t2 - t1, "plans.playlist_stats_s": t3 - t2}

    def run_op(self, op_id: str, kind: str) -> Op:
        from itdb_spark.plans.library import genre_histogram, playlist_quality
        from itdb_spark.sinks.html import render_stats_page

        if kind not in PAGES:
            return self.query_op(op_id, kind)
        op = Op(kind)
        spark, lib, page = self.spark, self.lib, PAGES[kind]

        def build():
            if page is None:
                return playlist_quality(spark.read.parquet(os.path.join(lib, "playlist_stats")))
            thing, user = page
            return genre_histogram(spark.read.parquet(os.path.join(lib, "tracks")), user, thing)

        df, op.phases["page"] = self.phase(op_id, "page", build)
        html, op.phases["render"] = self.phase(op_id, "render", lambda: render_stats_page(df, kind))
        op.digest = digest_html(html)
        return op

    def post_check(self, full: bool) -> list[str]:
        return oracle_failures(self.spark, self.sf_dir, REPORT_QUERIES, ["orders", "lineitem", "documents"])


class Curate(Workload):
    name = "curate"
    default_sf = CURATE_SF
    ops_per_pass = CURATE_QUERIES
    pass_seconds = 5.0
    min_passes = 2
    per_pass = True

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.sf_dir = os.path.join(ctx.work, "sf")

    def setup_data(self, rep: int) -> dict[str, float]:
        t0 = time.perf_counter()
        gen.make_star_dir(self.sf_dir, self.sf, self.ctx.seed, tables=("documents",))
        return {"generate": time.perf_counter() - t0}

    def run_op(self, op_id: str, kind: str) -> Op:
        return self.query_op(op_id, kind)

    def post_check(self, full: bool) -> list[str]:
        # The dedup-contain-exact oracle is the naive quadratic all-pairs
        # containment (~30 s in DuckDB at 500 documents) and the pipe-curate
        # one a recursive reachability CTE (~5 s); those two run in the
        # traced run only, so an untraced run stays inside its time budget.
        qids = [q for q in CURATE_QUERIES if full or q in ("graph-kcore", "fn-bpe-train")]
        return oracle_failures(self.spark, self.sf_dir, qids, ["documents"])

    def post_trace(self) -> dict:
        from itdb_spark.operators.dedup import minhash_candidates, ngram_jaccard_pairs
        from itdb_spark.queries.pipeline import corpus

        c = corpus(self.spark, self.sf_dir).cache()
        cands = minhash_candidates(c, "doc_id", "text", hash_fn="xxhash64").cache()
        n_cand = cands.count()
        n_ver = ngram_jaccard_pairs(c, "doc_id", "text", candidates=cands).count()
        cands.unpersist()
        c.unpersist()
        out = {"dedup.candidate_yield": n_ver / n_cand if n_cand else 0.0}
        out.update(self.ingest_legs())
        return out

    def ingest_legs(self) -> dict:
        """The ingest legs on this corpus, so the traced run measures the
        persisted dedup and versioned-chain layers: persist the indexes
        over the seeded base share, fill each chain to MAX_LINKS links
        with data-less deltas, then ingest INGEST_LEG_BATCHES batches.
        The first is probed at MAX_LINKS links and its accept makes the
        chains fold; the next is probed right after the fold."""
        ing = Ingest(self.ctx, sf_dir=self.sf_dir, sf=self.sf, batches=INGEST_LEG_BATCHES)
        ing.prepare()
        persist = ing.setup_data(0)
        ing.fill_chains(MAX_LINKS)
        ops = []
        for k in range(INGEST_LEG_BATCHES):
            op_id = f"ingest{k}"
            t = time.perf_counter()
            op = ing.run_op(op_id, "batch")
            op.wall = time.perf_counter() - t
            op.extra["id"] = op_id
            op.extra["counts"] = [self.ctx.jobs.counts(f"{op_id}:{ph}") for ph in op.phases]
            ops.append(op)
        return {**persist, "ingest_ops": ops, "failures": ing.post_check(full=False)}


def _dir_bytes(path: str) -> int:
    tot = 0
    for d, _, files in os.walk(path):
        for f in files:
            tot += os.path.getsize(os.path.join(d, f))
    return tot


class Ingest(Workload):
    name = "ingest"
    default_sf = INGEST_SF
    ops_per_pass = ["batch"]
    pass_seconds = 7.0
    min_passes = count_prefix = 8  # 1 warm-up + 8 batches pass the first fold (MAX_LINKS)

    def __init__(self, ctx, sf_dir: str | None = None, sf: float | None = None, batches: int | None = None) -> None:
        """``sf_dir`` / ``sf`` / ``batches``: ingest that many batches of an
        already generated documents table (the traced curate run's ingest
        legs) instead of making one and running the timed window."""
        super().__init__(ctx)
        self.own_docs = sf_dir is None
        self.sf_dir = sf_dir or os.path.join(ctx.work, "sf")
        self.sf = self.sf if sf is None else sf
        self.n_batches = batches or self.warmup_passes + self.timed_passes(ctx.seconds)
        self.base_dir = os.path.join(ctx.work, "ingest")
        self.accepted: list[int] = []
        self.next_batch = 0

    def layer_of(self, phase: str) -> str:
        return "versioned" if phase == "compact" else "dedup"

    def prepare(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from itdb_spark.queries.pipeline import corpus

        if self.own_docs:
            gen.make_star_dir(self.sf_dir, self.sf, self.ctx.seed, tables=("documents",))
        n = max(gen.DOCS_MIN, int(gen.DOCS_PER_SF * self.sf))
        ids = [i + off for off in (0, 100000, 200000) for i in range(n)]
        # 80% of the corpus is indexed up front, less when the rest would
        # not fill the batches the run ingests (a small smoke-test corpus)
        share = min(BASE_SHARE, 1 - self.n_batches * BATCH_DOCS / len(ids))
        base, self.batches = gen.batch_split(self.ctx.seed, ids, base_share=share, batch_size=BATCH_DOCS)
        split = {i: -1 for i in base}
        for k, b in enumerate(self.batches):
            split.update({i: k for i in b})
        split_path = os.path.join(self.base_dir, "split.parquet")
        os.makedirs(self.base_dir, exist_ok=True)
        pq.write_table(
            pa.table({"doc_id": pa.array(list(split), pa.int64()), "b": pa.array(list(split.values()), pa.int32())}),
            split_path,
        )
        self.docs_path = os.path.join(self.base_dir, "docs")
        (
            corpus(self.spark, self.sf_dir)
            .join(self.spark.read.parquet(split_path), "doc_id")
            .select("doc_id", "text", F.col("b"))
            .write.partitionBy("b")
            .parquet(self.docs_path)
        )

    def docs(self, b: int):
        return self.spark.read.parquet(os.path.join(self.docs_path, f"b={b}"))

    def setup_data(self, rep: int) -> dict[str, float]:
        from itdb_spark.operators.dedup import (
            minhash_bands,
            minhash_signatures,
            persist_band_index,
            persist_containment_index,
        )

        root = os.path.join(self.base_dir, f"index{rep}")
        base = self.docs(-1)
        t0 = time.perf_counter()
        with self.ctx.tracer.span("dedup.persist"):
            persist_containment_index(base, "doc_id", "text", os.path.join(root, "contain"))
            persist_band_index(
                minhash_bands(minhash_signatures(base, "doc_id", "text")), os.path.join(root, "bands")
            )
        self.croot = os.path.join(root, "contain")
        self.broot = os.path.join(root, "bands")
        self.probe_out = os.path.join(root, "probe")
        return {"dedup.persist_s": time.perf_counter() - t0}

    def roots(self) -> list[str]:
        return [self.croot, self.broot, self.broot + "_keys"]

    def fill_chains(self, links: int) -> None:
        """Append data-less deltas (the empty keys delta a re-crawl batch
        publishes) until every chain has ``links`` links."""
        from itdb_spark.sinks.versioned import append_version, chain_versions, read_current_chain

        for root, part in zip(self.roots(), ("kind", "band", "band")):
            while len(chain_versions(root)) < links:
                append_version(read_current_chain(self.spark, root).limit(0), root, partition_by=[part])

    def run_op(self, op_id: str, kind: str) -> Op:
        from itdb_spark.operators.dedup import (
            append_band_index,
            append_containment_index,
            band_collision_counts_persisted,
            containment_probe_persisted,
            minhash_bands,
            minhash_signatures,
        )
        from itdb_spark.sinks.versioned import chain_versions, maybe_compact_chain

        if self.next_batch >= len(self.batches):
            raise RuntimeError("ingest ran out of batches")
        k = self.next_batch
        self.next_batch += 1
        spark, tag = self.spark, f"batch-{k}"
        batch = self.docs(k).select("doc_id", "text")
        op = Op(kind)
        op.extra["chain_links"] = len(chain_versions(self.croot))
        bytes0 = sum(_dir_bytes(r) for r in self.roots())

        def screen():
            bands = minhash_bands(minhash_signatures(batch, "doc_id", "text"))
            return bands, band_collision_counts_persisted(spark, self.broot, bands).collect()

        (bands, hits), op.phases["screen"] = self.phase(op_id, "screen", screen)

        def probe():
            containment_probe_persisted(spark, self.croot, batch, "doc_id", "text").write.parquet(
                os.path.join(self.probe_out, f"b={k}")
            )

        _, op.phases["probe"] = self.phase(op_id, "probe", probe)

        def accept():
            append_containment_index(spark, self.croot, batch, "doc_id", "text", tag=tag)
            append_band_index(spark, self.broot, bands, tag=tag)

        _, op.phases["accept"] = self.phase(op_id, "accept", accept)
        folds, op.phases["compact"] = self.phase(
            op_id, "compact", lambda: [maybe_compact_chain(spark, r) for r in self.roots()]
        )
        op.extra["folds"] = sum(1 for f in folds if f is not None)
        op.extra["bytes_written"] = sum(_dir_bytes(r) for r in self.roots()) - bytes0
        op.extra["screen_hits"] = len(hits)
        op.docs = len(self.batches[k])
        self.accepted.append(k)
        return op

    def post_check(self, full: bool) -> list[str]:
        from pyspark.sql import functions as F

        from itdb_spark.operators.dedup import containment_join_incremental
        from itdb_spark.sinks.versioned import chain_tags, chain_versions

        bad = []
        want = {f"batch-{k}" for k in self.accepted}
        for root in (self.croot, self.broot + "_keys"):  # where each accept publishes its tag
            seen: dict[str, int] = {}
            for v in chain_versions(root):
                p = os.path.join(root, v, "_TAGS")
                if os.path.exists(p):
                    with open(p) as fh:
                        for t in fh.read().split():
                            seen[t] = seen.get(t, 0) + 1
            if chain_tags(root) != want or any(n != 1 for n in seen.values()):
                bad.append(f"ingest: batch tags on {os.path.basename(root)} are not exactly-once: {seen}")
        # union of per-batch probe emissions == one-shot incremental result
        probed = self.spark.read.parquet(self.probe_out).drop("b")
        cols = probed.columns
        docs = self.spark.read.parquet(self.docs_path).where(F.col("b").isin([-1] + self.accepted))
        oneshot = containment_join_incremental(
            docs.withColumn("is_new", F.col("b") >= 0).select("doc_id", "text", "is_new"),
            "doc_id", "text", "is_new",
        ).select(*cols)
        a = sorted(tuple(r) for r in probed.collect())
        b = sorted(tuple(r) for r in oneshot.collect())
        if a != b:
            bad.append(f"ingest: probe union ({len(a)} rows) != one-shot incremental ({len(b)} rows)")
        return bad
