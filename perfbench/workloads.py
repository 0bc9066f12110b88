"""The benchmark's workloads: seeded inputs written to parquet, the timed
job (public entry point, parquet in, committed output out), the checks
every job's output must pass, and the per-layer figures a traced job
yields. Why each workload exists is in ``perfbench/README.md``."""

from __future__ import annotations

import datetime as dt
import functools
import re
import statistics
from collections import Counter
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datamatcher_spark.operators.merge import ColumnMapping, WriteMode
from datamatcher_spark.plans.config import PipelineConfig
from datamatcher_spark.plans.profiles import Profile, SourceSpec, execute_profile
from datamatcher_spark.plans.run import STAGES, run_pipeline
from datamatcher_spark.sources import synth

RUN_ID = "bench"
F1_GATE = 0.99
CROSS_DOMAIN_FRAC = 0.03  # synth.generate_pages_with_truth's default


def _pages_schema():
    import pyarrow as pa

    return pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
        ("cluster_id", pa.int64()),
    ])


class CheckFailed(Exception):
    """An output check failed; the job counts as failed."""


def require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def digest(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """Order-insensitive (row count, hash sum) over ``cols`` as strings."""
    row = df.agg(
        F.count("*").alias("n"),
        F.sum(
            F.xxhash64(*[F.col(c).cast("string") for c in cols]).cast("decimal(38,0)")
        ).alias("h"),
    ).collect()[0]
    return int(row.n), int(row.h or 0)


def pair_f1(truth: dict, got: dict) -> float:
    """Pairwise F1 over every pair of the urls in ``truth``: a pair is
    positive when both urls share a planted cluster, predicted when they
    share a committed one."""
    def pairs(counts: Counter) -> int:
        return sum(n * (n - 1) // 2 for n in counts.values())

    tp = pairs(Counter((c, got.get(u)) for u, c in truth.items()))
    total = pairs(Counter(truth.values())) + pairs(Counter(got.get(u) for u in truth))
    return 2 * tp / total if total else 1.0


def _skew(values: list[int]) -> float:
    med = statistics.median(values) if values else 0
    return max(values) / med if med else 0.0


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso).timestamp()


class Linkage:
    """Shared shape of the ER workloads: pages on parquet →
    ``plans.run.run_pipeline`` → pairwise F1 against the planted clusters
    plus the workload's own checks."""

    name = ""
    cfg = PipelineConfig()

    def __init__(self, spark: SparkSession, seed: int, inputs: Path, scale: float = 1.0):
        self.spark, self.seed, self.scale = spark, seed, scale
        self.pages_path = str(inputs / "pages.parquet")
        self.truth: dict[str, int] = {}

    def _n(self, base: int) -> int:
        return max(8, int(base * self.scale))

    # -- inputs -------------------------------------------------------------
    def frames(self) -> tuple[DataFrame, DataFrame]:
        """(pages to write, the truth table if the pages lack one)."""
        raise NotImplementedError

    def generate(self) -> None:
        """Build the program's input and write it to parquet."""
        pages, _ = self.frames()
        pages.write.mode("overwrite").parquet(self.pages_path)

    def generate_truth(self) -> None:
        """url → planted cluster, for the F1; not part of the program's input."""
        if self.truth:
            return
        _, truth = self.frames()
        if truth is None:
            truth = self.spark.read.parquet(self.pages_path)
        self.truth = dict(truth.select("url", "cluster_id").collect())

    def pages(self) -> DataFrame:
        return self.spark.read.parquet(self.pages_path).drop("cluster_id")

    def fingerprint(self) -> str:
        return synth.corpus_fingerprint(self.pages())

    # -- the timed job --------------------------------------------------------
    def run(self, job_dir: Path):
        return run_pipeline(self.spark, self.pages(), str(job_dir), RUN_ID, self.cfg)

    @staticmethod
    def work_pairs(res) -> int:
        return res.counts["pairs_scored"]

    # -- checks ---------------------------------------------------------------
    def check(self, res) -> dict:
        require(list(res.stages_run) == list(STAGES), f"stages run: {res.stages_run}")
        got = dict(res.clusters.select("url", "cluster_id").collect())
        f1 = pair_f1(self.truth, got)
        require(f1 >= F1_GATE, f"f1 {f1:.5f} < {F1_GATE}")
        self.check_shape(res, got)
        facts = {k: res.counts[k] for k in (
            "blocks", "truncated_blocks", "pairs_scored", "edges_accepted",
            "clusters", "cc_iterations")}
        return {"f1": f1, "facts": facts}

    def check_shape(self, res, got: dict) -> None:
        raise NotImplementedError

    def cluster_digest(self, res) -> tuple[int, int]:
        return digest(res.clusters, ["url", "cluster_id"])

    # -- per-layer figures of one traced job ---------------------------------
    def layers(self, res, tracer, udf: dict) -> dict:
        from datamatcher_spark.plans.scoring import candidate_pairs

        c, mt, job = res.counts, res.metrics, tracer.last("job")
        start = job["start"]
        for stage, layer in zip(STAGES, ("blocking", "scoring", "clustering")):
            end = _epoch(mt.read_commit(stage)["committed_at"])
            tracer.add(layer, start, end, "job")
            start = end
        rows = mt.read().filter(F.col("run_id") == RUN_ID).collect()
        by_stage: dict[str, list[int]] = {}
        for r in rows:
            by_stage.setdefault(r.stage, []).append(r.pair_count)

        blocks = self.spark.read.parquet(mt.stage_output_path("block"))
        sizes = blocks.groupBy("block_key").agg(F.count_distinct("uid").alias("k"))
        generated = sizes.agg(F.sum(F.col("k") * (F.col("k") - 1) / 2)).collect()[0][0]
        distinct = candidate_pairs(blocks).count()

        block_s = c["block_wall_ms"] / 1000.0
        score_s = c["score_wall_ms"] / 1000.0
        cluster_s = c["cluster_wall_ms"] / 1000.0
        mh_s, mh_rows = udf.get("minhash", (0.0, 0))
        jw_s, jw_rows = udf.get("jw", (0.0, 0))
        return {
            "minhash.busy_s": mh_s,
            "minhash.docs_per_s": mh_rows / mh_s if mh_s else 0.0,
            "blocking.busy_s": block_s,
            "blocking.block_rows": c["blocks"],
            "blocking.truncated_blocks": c["truncated_blocks"],
            "blocking.truncated_rows": sum(by_stage.get("block_truncated", [])),
            "blocking.partition_skew": _skew(by_stage.get("block", [])),
            "scoring.busy_s": score_s,
            "scoring.pairs_generated": int(generated or 0),
            "scoring.dedup_ratio": distinct / generated if generated else 0.0,
            "scoring.pairs_scored": c["pairs_scored"],
            "scoring.pairs_accepted": c["edges_accepted"],
            "scoring.accept_ratio": (
                c["edges_accepted"] / c["pairs_scored"] if c["pairs_scored"] else 0.0),
            "scoring.pairs_per_s": c["pairs_scored"] / score_s if score_s else 0.0,
            "scoring.partition_skew": _skew(by_stage.get("score", [])),
            "jw.busy_s": jw_s,
            "jw.pairs_per_s": jw_rows / jw_s if jw_s else 0.0,
            "clustering.busy_s": cluster_s,
            "clustering.rounds": c["cc_iterations"],
            "clustering.edges_in": c["edges_accepted"],
            "clustering.clusters": c["clusters"],
            "clustering.s_per_round": (
                cluster_s / c["cc_iterations"] if c["cc_iterations"] else 0.0),
            "lineage.busy_s": (job["end"] - job["start"]) - block_s - score_s - cluster_s,
            "lineage.rows_written": len(rows),
        }


class ErPlanted(Linkage):
    """Zipf domains, planted clusters: the score stage does most of the work.

    The corpus is the union of ``shards`` independently seeded crawls
    whose hosts are made disjoint (``t<k>.`` prefix), so the seed-to-seed
    swing of the head-domain block sizes, which set most of the pair
    count, averages over the shards."""

    name = "er_planted"
    shards, shard_docs = 4, 1_000

    def frames(self):
        parts = [
            synth.generate_pages_with_truth(
                self.spark, n_docs=self._n(self.shard_docs), seed=self.seed * self.shards + k
            ).select(
                F.regexp_replace("url", r"^https://(www\.|)", f"https://$1t{k}.").alias("url"),
                "warc_ts", "html", "text", "lang",
                (F.col("cluster_id") + k * 10**9).alias("cluster_id"),
            )
            for k in range(self.shards)
        ]
        return functools.reduce(DataFrame.unionByName, parts), None

    def generate(self) -> None:
        """Writes ``frames()``'s pages with pyarrow from rows the driver
        makes with the synth's own per-cluster generator: no Spark job, so
        set-up stays cheap (a test pins both corpora equal)."""
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = []
        for k in range(self.shards):
            n_docs, seed = self._n(self.shard_docs), self.seed * self.shards + k
            # generate_pages_with_truth's sizing, then its per-cluster rows
            n_clusters = max(1, int(n_docs / float(np.arange(1, 7) @ synth.CLUSTER_SIZE_P)))
            n_domains = max(20, n_clusters // 40)
            cdf = synth._domain_cdf(n_domains)
            for cid in range(n_clusters):
                for r in synth._gen_cluster(seed, cid, n_domains, cdf, CROSS_DOMAIN_FRAC):
                    r["url"] = re.sub(r"^https://(www\.|)", rf"https://\1t{k}.", r["url"])
                    r["cluster_id"] += k * 10**9
                    rows.append(r)
        self.truth = {r["url"]: r["cluster_id"] for r in rows}
        pdf = pd.DataFrame(rows)
        tz = self.spark.conf.get("spark.sql.session.timeZone")
        pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"]).dt.tz_localize(tz)
        Path(self.pages_path).parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.Table.from_pandas(pdf, schema=_pages_schema(), preserve_index=False),
                       self.pages_path)

    def check_shape(self, res, got: dict) -> None:
        """A union-find over the committed accepted edges must reproduce
        the committed cluster assignment exactly."""
        mt = res.metrics
        edges = (self.spark.read.parquet(mt.stage_output_path("score"))
                 .filter("accepted").select("uid_a", "uid_b").collect())
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        uid_of = dict(self.spark.read.parquet(mt.stage_output_path("features"))
                      .select("url", "uid").collect())
        require(got.keys() == uid_of.keys(), "cluster table urls differ from the input")
        wrong = sum(1 for u, cid in got.items() if find(uid_of[u]) != cid)
        require(wrong == 0, f"{wrong} urls disagree with the union-find of accepted edges")


class ErSkewed(Linkage):
    """A small planted base, one mega-domain and one boilerplate band: the
    block stage's truncation census and salted repartition do most of
    the work."""

    name = "er_skewed"
    n_base, n_mega, n_boiler = 1_000, 12_000, 3_000
    MEGA_BLOCK = "dom:mega-hub.example"

    def sizes(self) -> tuple[int, int, int]:
        return self._n(self.n_base), self._n(self.n_mega), self._n(self.n_boiler)

    def frames(self):
        n_base, n_mega, n_boiler = self.sizes()
        pages = synth.generate_adversarial_pages(
            self.spark, n_base=n_base, n_mega=n_mega, n_boiler=n_boiler, seed=self.seed)
        truth = synth.generate_pages_with_truth(self.spark, n_docs=n_base, seed=self.seed)
        return pages, truth

    def check_shape(self, res, got: dict) -> None:
        """The census names the mega-domain block and every boilerplate
        band key with their sizes; every mega-domain doc is a singleton."""
        _, n_mega, n_boiler = self.sizes()
        census = dict(
            res.metrics.read()
            .filter((F.col("run_id") == RUN_ID) & (F.col("stage") == "block_truncated"))
            .select("block_key", "pair_count").collect()
        )
        require(census.get(self.MEGA_BLOCK) == n_mega,
                f"mega-domain census {census.get(self.MEGA_BLOCK)} != {n_mega}")
        bands = [k for k, n in census.items() if k.startswith("lsh:") and n >= n_boiler]
        require(len(bands) == self.cfg.lsh_bands,
                f"{len(bands)} boilerplate band keys in the census, "
                f"expected {self.cfg.lsh_bands}")
        is_mega = F.col("url").startswith("https://mega-hub.example/")
        merged = (
            res.clusters.groupBy("cluster_id")
            .agg(F.count("*").alias("n"), F.max(is_mega.cast("int")).alias("mega"))
            .filter("mega = 1 AND n > 1").count()
        )
        require(merged == 0, f"{merged} clusters merge a mega-domain doc")


class EnrichFuzzy:
    """The reference's product path: a base table enriched with the
    fuzzy fallback on, in ``work_dir`` resume mode. One source by default
    (``n_sources``): every source adds about six seconds of per-query
    overhead to a job, and a run has to stay near a minute.

    Keys are ``K`` + four base-36 digits of ``(id + offset) · 1000003``
    + four of ``id + offset``, so two distinct keys differ in at least
    two positions (Levenshtein ratio ≤ 7/9) and a key whose last
    character is replaced by ``~`` still scores 8/9 ≥ the 0.85
    threshold against its original. The shared ``K`` puts every key in
    one first-character block, over the fuzzy join's candidate cap, so
    its census refines them by the (scrambled, hence diverse) second
    character. Per source ``i``: rows with
    ``id % 100 == 99 − i`` carry that typo (found only by the fuzzy
    fallback) and rows with ``id % 100 == 50 + i`` carry a foreign key
    (a true miss). The expected result therefore has a closed form."""

    name = "enrich_fuzzy"
    n_base = 12_000
    n_sources = 1
    threshold = 0.85
    cols = ["sku", "cat", "name", "price"]

    def __init__(self, spark: SparkSession, seed: int, inputs: Path, scale: float = 1.0):
        self.spark, self.seed = spark, seed
        self.n = max(200, int(self.n_base * scale))
        self.inputs = inputs
        self.offset = (seed * 7919) % 36 ** 4

    def key(self) -> F.Column:
        x = F.col("id") + F.lit(self.offset)

        def b36(v: F.Column) -> F.Column:
            return F.lpad(F.conv(F.pmod(v, F.lit(36 ** 4)).cast("string"), 10, 36), 4, "0")

        return F.concat(F.lit("K"), b36(x * F.lit(1_000_003)), b36(x))

    def _path(self, name: str) -> str:
        return str(self.inputs / f"{name}.parquet")

    def keys(self) -> list[str]:
        """``key()`` computed in Python, for the generator; the check's
        expectation uses the Spark expression, so the two are independent."""
        digits = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"

        def b36(v: int) -> str:
            v %= 36 ** 4
            return "".join(digits[(v // 36 ** p) % 36] for p in (3, 2, 1, 0))

        return [f"K{b36((i + self.offset) * 1_000_003)}{b36(i + self.offset)}"
                for i in range(self.n)]

    def generate(self) -> None:
        """Writes the inputs with pyarrow from the driver: no Spark job, so
        set-up is the session start plus a write that stays cheap."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.inputs.mkdir(parents=True, exist_ok=True)
        keys, ids = self.keys(), range(self.n)
        pq.write_table(pa.table({
            "sku": pa.array(keys, pa.string()),
            "cat": pa.array([i % 1000 for i in ids], pa.int64()),
            "name": pa.nulls(self.n, pa.string()),
            "price": pa.nulls(self.n, pa.float64()),
        }), self._path("base"))
        for s in range(self.n_sources):
            sku = [f"{k[:-1]}~" if i % 100 == 99 - s
                   else f"zz@{i}" if i % 100 == 50 + s else k
                   for i, k in zip(ids, keys)]
            pq.write_table(pa.table({
                "sku": pa.array(sku, pa.string()),
                "nm": pa.array([f"name{s}_{i}" for i in ids], pa.string()),
                "pr": pa.array([i * 1.5 + s for i in ids], pa.float64()),
            }), self._path(f"src{s}"))

    def generate_truth(self) -> None:
        """The expectation is closed-form; nothing to build."""

    def fingerprint(self) -> str:
        return repr([
            digest(df, df.columns)
            for df in (self.spark.read.parquet(self._path(p)) for p in
                       ["base", *[f"src{i}" for i in range(self.n_sources)]])
        ])

    def profile(self) -> Profile:
        maps = []
        for i in range(self.n_sources):
            maps += [
                ColumnMapping(source_column="nm", target_column="name",
                              write_mode=WriteMode.FILL_EMPTY, source_id=f"s{i}"),
                ColumnMapping(source_column="pr", target_column="price",
                              write_mode=WriteMode.OVERWRITE, source_id=f"s{i}"),
            ]
        return Profile(
            name=self.name, mappings=maps,
            sources=[
                SourceSpec(name=f"s{i}", path=self._path(f"src{i}"), key_column="sku",
                           key_options={"fuzzy_threshold": self.threshold})
                for i in range(self.n_sources)
            ],
            base=SourceSpec(name="base", path=self._path("base"), key_column="sku"),
        )

    # -- the timed job --------------------------------------------------------
    def run(self, job_dir: Path) -> dict:
        res, sources_info, _ = execute_profile(
            self.spark, self.profile(), work_dir=job_dir / "wd")
        out = str(job_dir / "result.parquet")
        res.select(*self.cols).write.mode("overwrite").parquet(out)
        return {"result": out, "job_dir": job_dir, "sources": sources_info}

    def work_pairs(self, res) -> int:
        """(base row, source) lookups resolved."""
        return self.n * self.n_sources

    # -- checks ---------------------------------------------------------------
    def expected(self) -> DataFrame:
        """The closed-form result, built from ``spark.range`` alone."""
        m = F.pmod(F.col("id"), F.lit(100))
        hit = [m != 50 + i for i in range(self.n_sources)]
        name = F.coalesce(*[
            F.when(hit[i], F.concat(F.lit(f"name{i}_"), F.col("id").cast("string")))
            for i in range(self.n_sources)
        ])
        price = F.coalesce(*[
            F.when(hit[i], F.col("id") * 1.5 + i) for i in reversed(range(self.n_sources))
        ])
        return self.spark.range(self.n).select(
            self.key().alias("sku"), (F.col("id") % 1000).alias("cat"),
            name.alias("name"), price.alias("price"))

    def check(self, res) -> dict:
        # the merge fold writes target cells as strings
        got = self.spark.read.parquet(res["result"]).withColumn(
            "price", F.col("price").cast("double"))
        exp = self.expected()
        require(digest(got, self.cols) == digest(exp, self.cols),
                "result digest differs from the closed-form expectation")
        # cell-level F1 of the filled target cells against the expectation
        j = got.alias("g").join(exp.alias("e"), "sku", "full")
        agg = j.agg(*[
            F.sum(F.col(f"{s}.{c}").isNotNull().cast("long")).alias(f"{s}_{c}")
            for s in ("g", "e") for c in ("name", "price")
        ], *[
            F.sum((F.col(f"g.{c}") == F.col(f"e.{c}")).cast("long")).alias(f"tp_{c}")
            for c in ("name", "price")
        ]).collect()[0]
        tp = (agg.tp_name or 0) + (agg.tp_price or 0)
        pred = agg.g_name + agg.g_price
        true = agg.e_name + agg.e_price
        f1 = 2 * tp / (pred + true) if pred + true else 1.0
        facts = {f"match_{i}": s["matched"] for i, s in enumerate(res["sources"])}
        return {"f1": f1, "facts": facts}

    # -- per-layer figures of one traced job ---------------------------------
    def layers(self, res, tracer, udf: dict) -> dict:
        """Per-source fold walls from the commit-marker mtimes, and, for
        the first source, the exact/fuzzy/fold split from timed no-op
        writes of each operator's output in turn (each later figure is the
        marginal over the one before it)."""
        import time

        from datamatcher_spark.operators.enrich import enrich_join, fuzzy_fallback_join
        from datamatcher_spark.operators.merge import apply_mappings

        job = tracer.last("job")
        commits = res["job_dir"] / "wd" / "commits"
        start, folds = job["start"], []
        for i in range(self.n_sources):
            end = (commits / f"source_{i}.json").stat().st_mtime
            tracer.add("enrich.source", start, end, "job")
            folds.append(end - start)
            start = end

        def noop(df: DataFrame) -> float:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        prof = self.profile()
        spec = prof.sources[0]
        base, src = (self.spark.read.parquet(p) for p in (prof.base.path, spec.path))
        opts = spec.key_options
        exact = enrich_join(base, src, "sku", "sku", "nm", key_options=opts)
        fz = fuzzy_fallback_join(exact, src, "sku", "sku",
                                 threshold=self.threshold, key_options=opts)
        folded = apply_mappings(
            fz, [m for m in prof.mappings if m.source_id == spec.name],
            matched=F.col("__matched"))
        t_exact, t_fz, t_fold = noop(exact), noop(fz), noop(folded)
        probes = exact.filter(~F.col("__matched")).select("sku").distinct().count()
        hits = fz.filter(F.col("__fuzzy_score").isNotNull()).count()
        return {
            "enrich.source_s": statistics.median(folds),
            "enrich.match_stats_s": tracer.total("enrich.match_stats"),
            "enrich.exact_join_s": t_exact,
            "enrich.fuzzy_s": t_fz - t_exact,
            "enrich.fuzzy_probes": probes,
            "enrich.fuzzy_hit_ratio": hits / probes if probes else 0.0,
            "merge.fold_s": t_fold - t_fz,
        }


WORKLOADS = {w.name: w for w in (ErPlanted, ErSkewed, EnrichFuzzy)}
