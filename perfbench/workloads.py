"""The benchmark's workloads: inputs made from a seed, one timed
repetition, its output check, the fixture-scale oracle check, and the
per-layer decomposition used by traced runs.

Every call into the program goes through its public functions; the
program itself is not modified or instrumented.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from dataclasses import dataclass

import duckdb
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from news_combinator_spark.datagen import (
    budgets_df,
    pages_from_documents,
    reference_grammar_pages,
    robots_df,
    seeds_df,
)
from news_combinator_spark.functions.extract import links_udf
from news_combinator_spark.functions.urls import canonicalize_udf
from news_combinator_spark.operators.bloom import build_sharded_bloom
from news_combinator_spark.operators.clustering import (
    candidate_pairs,
    cluster_documents,
    doc_tags,
    featurize_docs,
    greedy_membership,
    verify_pairs,
)
from news_combinator_spark.operators.frontier import (
    crawl,
    load_checkpoint,
    resume_crawl,
    save_checkpoint,
    schedule_per_host,
)
from news_combinator_spark.operators.ranking import partitioned_global_rank
from news_combinator_spark.oracle.crawl_sql import crawl_oracle_sql
from news_combinator_spark.oracle.reference_impl import (
    MAX_SIMILAR,
    greedy_clusters,
)

from .metrics import Tracer, pair_recall_precision


class CheckFailed(Exception):
    """An output failed its correctness check."""


def _check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _digest(rows) -> str:
    h = hashlib.blake2b(digest_size=16)
    for r in rows:
        h.update(repr(tuple(r)).encode())
    return h.hexdigest()


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(base, n))
            files += 1
    return total, files


@dataclass
class RepResult:
    items: int  # fetched URLs / clustered documents
    digest: str


# ---------------------------------------------------------------------------
# crawl_uniform
# ---------------------------------------------------------------------------

# The page graph is fixed (datagen's doc-id link rules); the seed picks
# the seed-URL set and shuffles a fixed multiset of per-host budgets, so
# every seed schedules the same total budget per round.
CRAWL_DOCS = 20_000
CRAWL_HOSTS = 1024
CRAWL_SEEDS = 8192
CRAWL_ROUNDS = 2
CRAWL_BUDGETS = (6, 7, 8, 9, 10)
CRAWL_KW = dict(
    use_bloom=True,
    bloom_expected=CRAWL_DOCS,
    salt_buckets=8,
    allowed_host_suffix=".test",
    collect_lineage=False,
)
FIXTURE_DOCS = 400

_VOCAB = [
    f"{stem}{i}"
    for stem in ("news market policy storm match court chip film bank road")
    .split()
    for i in range(50)
]


def write_documents(spark: SparkSession, sf_dir: str, n_docs: int) -> None:
    """A ``documents`` table (doc_id, text, lang) of ``n_docs`` rows with
    40-69 words of text each, in the shape datagen.pages_from_documents
    reads. Deterministic in doc_id."""
    vocab = F.array(*[F.lit(w) for w in _VOCAB])
    n_words = (F.col("id") % 30 + 40).cast("int")
    text = F.concat_ws(" ", F.transform(
        F.sequence(F.lit(1), n_words),
        lambda i: F.element_at(
            vocab, (F.pmod(F.hash(F.col("id"), i), F.lit(len(_VOCAB))) + 1)
            .cast("int")),
    ))
    spark.range(n_docs).select(
        F.col("id").alias("doc_id"), text.alias("text"),
        F.lit("en").alias("lang"),
    ).write.mode("overwrite").parquet(os.path.join(sf_dir, "documents.parquet"))


def check_crawl_output(pdf: pd.DataFrame, budgets: dict[str, int],
                       seed_urls: set[str], rounds: int) -> None:
    """Invariants of a crawl's fetched table (round, url, host,
    priority, fetch_order)."""
    _check(len(pdf) > 0, "crawl fetched nothing")
    _check(pdf["url"].is_unique, "a URL was fetched twice")
    _check(pdf["round"].between(0, rounds - 1).all(), "round out of range")
    per = pdf.groupby(["round", "host"]).size()
    over = [
        (r, h, n) for (r, h), n in per.items() if n > budgets.get(h, 1)
    ]
    _check(not over, f"politeness budget exceeded: {over[:3]}")
    _check(
        (pdf["url"].str.split("/").str[2] == pdf["host"]).all(),
        "fetched host does not match its URL",
    )
    _check(
        set(pdf.loc[pdf["round"] == 0, "url"]) <= seed_urls,
        "round 0 fetched a URL that is not a seed",
    )
    by_key = pdf.sort_values(["round", "priority", "host", "url"])
    _check(
        list(by_key["fetch_order"]) == list(range(1, len(pdf) + 1)),
        "fetch_order is not 1..n in (round, priority, host, url) order",
    )


def crawl_digest(pdf: pd.DataFrame) -> str:
    cols = ["round", "url", "host", "priority", "fetch_order"]
    return _digest(pdf[cols].sort_values("fetch_order").itertuples(index=False))


class CrawlUniform:
    name = "crawl_uniform"
    build_metric = "datagen.pages_s"
    crawl_rounds = CRAWL_ROUNDS
    # One crawl (10-17 s on 4 shared cores) fills a run's window and the
    # run time budget has no room for another: the fixture-scale crawl
    # is its only warm-up.
    warmup_reps = 0

    def __init__(self, spark: SparkSession, tmp: str, seed: int):
        self.spark, self.tmp, self.seed = spark, tmp, seed
        rng = random.Random(seed)
        self.seed_ids = sorted(rng.sample(range(CRAWL_DOCS), CRAWL_SEEDS))
        b = [CRAWL_BUDGETS[i % len(CRAWL_BUDGETS)] for i in range(CRAWL_HOSTS)]
        rng.shuffle(b)
        self.budget_map = {f"h{i}.test": b[i] for i in range(CRAWL_HOSTS)}

    def prepare(self) -> None:
        """The raw corpus the pages derive from, written once."""
        self.docs_dir = os.path.join(self.tmp, "bench_docs")
        write_documents(self.spark, self.docs_dir, CRAWL_DOCS)

    def build_inputs(self) -> None:
        spark = self.spark
        self.pages = pages_from_documents(
            spark, self.docs_dir, n_hosts=CRAWL_HOSTS
        ).select("doc_id", "url", "host", "priority", "html").localCheckpoint()
        ids = spark.createDataFrame([(i,) for i in self.seed_ids], "doc_id long")
        self.seeds = self.pages.join(ids, "doc_id").select(
            "url", "host", "priority").localCheckpoint()
        self.seed_urls = {r[0] for r in self.seeds.select("url").collect()}
        self.budgets = spark.createDataFrame(
            sorted(self.budget_map.items()), "host string, budget int"
        )

    def fixture_check(self) -> None:
        """The workload's crawl settings at fixture scale against the
        DuckDB crawl oracle (oracle/crawl_sql.py), exact row equality."""
        spark = self.spark
        sf_dir = os.path.join(self.tmp, "fixture_docs")
        write_documents(spark, sf_dir, FIXTURE_DOCS)
        pages = pages_from_documents(spark, sf_dir)
        res = crawl(
            spark, pages, seeds_df(spark, pages), budgets_df(spark),
            robots=robots_df(spark), rounds=CRAWL_ROUNDS, **CRAWL_KW,
        )
        cols = ["round", "url", "host", "priority", "fetch_order"]
        got = res.fetched.toPandas()[cols].sort_values("fetch_order")
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM "
                f"'{sf_dir}/documents.parquet/*.parquet'"
            )
            exp = con.execute(
                crawl_oracle_sql(FIXTURE_DOCS, rounds=CRAWL_ROUNDS)
            ).fetchdf()[cols].sort_values("fetch_order")
        finally:
            con.close()
        _check(len(got) > 0, "fixture crawl fetched nothing")
        _check(
            got.astype(str).values.tolist() == exp.astype(str).values.tolist(),
            f"fixture crawl differs from the DuckDB oracle "
            f"({len(got)} vs {len(exp)} rows)",
        )

    def run_once(self, tracer: Tracer) -> DataFrame:
        """The timed work: one crawl, its fetched table materialized."""
        with tracer.span("frontier.crawl"):
            res = crawl(
                self.spark, self.pages, self.seeds, self.budgets,
                rounds=CRAWL_ROUNDS, **CRAWL_KW,
            )
            res.fetched.write.format("noop").mode("overwrite").save()
        return res.fetched

    def check(self, out: DataFrame) -> RepResult:
        pdf = out.toPandas()
        check_crawl_output(pdf, self.budget_map, self.seed_urls, CRAWL_ROUNDS)
        self.last_output = pdf
        return RepResult(items=len(pdf), digest=crawl_digest(pdf))

    def decompose(self, tracer: Tracer) -> dict[str, float]:
        """Rebuild the last round's data plane from the public functions
        on cached inputs and time each layer's stage (the same shape as
        bench.py:bench_round_dataplane), then checkpoint, reload and
        resume it. Each stage is materialized before the next starts."""
        spark = self.spark
        par = spark.sparkContext.defaultParallelism
        last = CRAWL_ROUNDS - 1
        out = self.last_output
        n_total = len(out)

        # -- cached inputs (untimed): web, fetched, seen and frontier
        #    at the start of the last round
        web = self.pages.select("url", "host", "priority", "html") \
            .repartition(par, "url").persist()
        web_meta = self.pages.select("url", "host", "priority") \
            .repartition(par, "url").persist()
        web.count(), web_meta.count()
        fetched_all = spark.createDataFrame(
            out[["round", "url", "host", "priority"]]).localCheckpoint()
        prev = fetched_all.filter(F.col("round") < last).select("url")
        prev_pages = web.join(prev, "url")
        discovered = (
            prev_pages.select(F.explode(links_udf("html")).alias("u"))
            .select(canonicalize_udf("u").alias("url"))
            .filter(F.parse_url("url", F.lit("HOST")).endswith(".test"))
            .join(web_meta.select("url"), "url").distinct()
        )
        seen = self.seeds.select("url").unionByName(discovered).distinct() \
            .localCheckpoint()
        frontier = web_meta.join(seen, "url").join(prev, "url", "left_anti") \
            .localCheckpoint()
        n_prev = n_total - int((out["round"] == last).sum())

        ck = os.path.join(self.tmp, "decompose_ckpt")
        resumed_path = os.path.join(self.tmp, "decompose_resumed")
        shutil.rmtree(ck, ignore_errors=True)
        with tracer.span("bench.decompose"):
            with tracer.span("frontier.schedule"):
                sched = schedule_per_host(
                    frontier, self.budgets, CRAWL_KW["salt_buckets"]).persist()
                n_frontier = sched.count()
                n_sched = sched.filter("taken").count()
            taken = sched.filter("taken").drop("taken")
            with tracer.span("frontier.fetch_join"):
                fetched = taken.withColumnRenamed("host", "t_host") \
                    .withColumnRenamed("priority", "t_priority") \
                    .hint("shuffle_hash").join(web, "url").select(
                        "url", F.col("t_host").alias("host"),
                        F.col("t_priority").alias("priority"), "html").persist()
                n_pages = fetched.count()
            with tracer.span("extract.links"):
                links = fetched.select(
                    F.explode(links_udf("html")).alias("raw_url")).persist()
                n_links = links.count()
            with tracer.span("urls.canonicalize"):
                cand = links.select(canonicalize_udf("raw_url").alias("url")) \
                    .filter(F.parse_url("url", F.lit("HOST")).endswith(".test")) \
                    .dropDuplicates(["url"]).persist()
                n_cand = cand.count()
            with tracer.span("frontier.resolve"):
                resolved = cand.hint("shuffle_hash").join(web_meta, "url") \
                    .persist()
                n_resolved = resolved.count()
            with tracer.span("bloom.build"):
                bloom = build_sharded_bloom(
                    seen, "url", CRAWL_KW["bloom_expected"], 1e-3, 64)
            with tracer.span("bloom.probe"):
                flagged = bloom.probe(resolved, "url", out_col="maybe").persist()
                n_probed = flagged.count()
                n_maybe = flagged.filter("maybe").count()
            with tracer.span("frontier.seen_antijoin"):
                new = flagged.filter("NOT maybe").drop("maybe").unionByName(
                    flagged.filter("maybe").drop("maybe")
                    .join(seen, "url", "left_anti")
                ).persist()
                n_new = new.count()
            with tracer.span("bloom.or_delta"):
                bloom.or_delta(new, "url")
            with tracer.span("ranking.global_rank"):
                partitioned_global_rank(
                    fetched_all, part_cols=["round", "priority", "host"],
                    order_cols=["url"], out_col="fetch_order", cast_to="int",
                ).write.format("noop").mode("overwrite").save()

            with tracer.span("checkpoint.save"):
                save_checkpoint(frontier, seen, ck, last, n_fetched=n_prev)
            with tracer.span("checkpoint.load"):
                lf, ls, _meta = load_checkpoint(spark, ck, last)
                lf.count(), ls.count()
            with tracer.span("checkpoint.resume"):
                rr = resume_crawl(
                    spark, self.pages, self.budgets, ck, from_round=last,
                    rounds=CRAWL_ROUNDS, **CRAWL_KW,
                )
                rr.fetched.write.mode("overwrite").parquet(resumed_path)
        ck_bytes, ck_files = _dir_bytes(ck)
        _check(
            {r[0] for r in taken.select("url").collect()}
            == set(out.loc[out["round"] == last, "url"]),
            "rebuilt last-round schedule differs from the crawl's",
        )
        merged = pd.concat([
            out[out["round"] < last],
            spark.read.parquet(resumed_path).toPandas(),
        ])
        _check(
            crawl_digest(merged) == crawl_digest(out),
            "resumed crawl merged with earlier rounds differs from the "
            "uninterrupted run",
        )
        n_seen_hits = resolved.join(seen, "url", "left_semi").count()
        max_shard = bloom.max_shard_bytes()
        spark.catalog.clearCache()

        return {
            "frontier.frontier_rows": n_frontier,
            "frontier.scheduled_rows": n_sched,
            "frontier.deferred_rows": n_frontier - n_sched,
            "frontier.take_ratio": n_sched / n_frontier,
            "frontier.new_urls": n_new,
            "frontier.new_ratio": n_new / n_resolved if n_resolved else 0.0,
            "extract.pages_in": n_pages,
            "extract.links_out": n_links,
            "extract.links_per_page": n_links / n_pages if n_pages else 0.0,
            "urls.candidates_distinct": n_cand,
            "urls.kept_ratio": n_cand / n_links if n_links else 0.0,
            "bloom.probed": n_probed,
            "bloom.maybe_seen": n_maybe,
            "bloom.false_positive_ratio": (
                (n_maybe - n_seen_hits) / (n_probed - n_seen_hits)
                if n_probed > n_seen_hits else 0.0
            ),
            "bloom.max_shard_bytes": max_shard,
            "ranking.rows": n_total,
            "checkpoint.bytes_written": ck_bytes,
            "checkpoint.files_written": ck_files,
            "checkpoint.bytes_per_fetched_url": ck_bytes / n_total,
        }


# ---------------------------------------------------------------------------
# cluster_news
# ---------------------------------------------------------------------------

# Small enough that a run holds a warm-up and one or two timed
# repetitions.
CLUSTER_DOCS = 1500
CLUSTER_DUP_RATE = 0.3
FIXTURE_CLUSTER_DOCS = 150
MIN_CLUSTER, MAX_CLUSTER = 2, MAX_SIMILAR + 1  # seed + similar docs
# quality floors of the output check: the pair recall/precision the
# seed code reaches on this corpus family is ~0.999/1.0
MIN_PAIR_RECALL = 0.98
MIN_PAIR_PRECISION = 0.98


def check_clusters(clusters: dict[int, list[int]], n_docs: int) -> None:
    for cid, members in clusters.items():
        _check(
            MIN_CLUSTER <= len(members) <= MAX_CLUSTER,
            f"cluster {cid} has {len(members)} members",
        )
        _check(members[0] == cid, f"cluster {cid} does not start with its seed")
        _check(len(set(members)) == len(members), f"cluster {cid} repeats a doc")
        _check(all(0 <= d < n_docs for d in members), f"cluster {cid} bad id")


class ClusterNews:
    name = "cluster_news"
    build_metric = "datagen.corpus_s"
    crawl_rounds = 0
    # The first bench-scale repetition after the fixture check runs
    # 15-40% slower than the next ones, by an amount that varies
    # between processes.
    warmup_reps = 1

    def __init__(self, spark: SparkSession, tmp: str, seed: int):
        self.spark, self.tmp, self.seed = spark, tmp, seed

    def prepare(self) -> None:
        pass

    def build_inputs(self) -> None:
        pages = reference_grammar_pages(
            n_pages=CLUSTER_DOCS, seed=self.seed, dup_rate=CLUSTER_DUP_RATE)
        self.labels = {i: p["story"] for i, p in enumerate(pages)}
        self.docs = self.spark.createDataFrame(
            [(i, p["text"], p["host"]) for i, p in enumerate(pages)],
            "doc_id long, text string, source string",
        ).localCheckpoint()

    def fixture_check(self) -> None:
        """cluster_documents against the pure-Python greedy oracle
        (oracle/reference_impl.py), exact cluster equality."""
        pages = reference_grammar_pages(
            n_pages=FIXTURE_CLUSTER_DOCS, seed=self.seed, dup_rate=0.35)
        texts = [p["text"] for p in pages]
        docs = self.spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
        got = {
            r["cluster_id"]: list(r["member_ids"])
            for r in cluster_documents(self.spark, docs).collect()
        }
        exp = {c.seed: c.members for c in greedy_clusters(texts)}
        _check(len(exp) > 0, "fixture corpus has no clusters")
        _check(got == exp, "fixture clusters differ from the greedy oracle")

    def run_once(self, tracer: Tracer) -> list:
        with tracer.span("clustering.cluster_documents"):
            return cluster_documents(self.spark, self.docs).select(
                "cluster_id", "member_ids").collect()

    def check(self, rows) -> RepResult:
        clusters = {r[0]: list(r[1]) for r in rows}
        check_clusters(clusters, CLUSTER_DOCS)
        recall, precision = pair_recall_precision(
            list(clusters.values()), self.labels)
        _check(recall >= MIN_PAIR_RECALL, f"pair recall {recall:.4f}")
        _check(precision >= MIN_PAIR_PRECISION, f"pair precision {precision:.4f}")
        self.quality = (recall, precision)
        self.last_clusters = clusters
        return RepResult(
            items=CLUSTER_DOCS, digest=_digest(sorted(clusters.items())))

    def decompose(self, tracer: Tracer) -> dict[str, float]:
        """cluster_documents' stages, each materialized on the previous
        stage's cached output."""
        with tracer.span("bench.decompose"):
            with tracer.span("clustering.featurize"):
                toks = featurize_docs(self.docs, num_perm=64).persist()
                toks.count()
            with tracer.span("clustering.tags"):
                tags = doc_tags(toks).persist()
                tags.count()
            with tracer.span("clustering.candidate_pairs"):
                pairs = candidate_pairs(toks.select("doc_id", "sig"), 16).persist()
                n_pairs = pairs.count()
            with tracer.span("clustering.verify"):
                edges = verify_pairs(pairs, toks, tags).persist()
                n_edges = edges.count()
            with tracer.span("clustering.membership"):
                rows = greedy_membership(edges).collect()
        members: dict[int, list[tuple[int, int]]] = {}
        for r in rows:
            members.setdefault(r["cluster_id"], []).append(
                (r["member_rank"], r["doc_id"]))
        rebuilt = {c: [d for _, d in sorted(v)] for c, v in members.items()}
        _check(rebuilt == self.last_clusters,
               "decomposed stages disagree with cluster_documents")
        self.spark.catalog.clearCache()
        recall, precision = self.quality
        return {
            "clustering.candidate_pairs": n_pairs,
            "clustering.pairs_per_doc": n_pairs / CLUSTER_DOCS,
            "clustering.edges": n_edges,
            "clustering.verify_yield": n_edges / n_pairs if n_pairs else 0.0,
            "clustering.clusters": len(rebuilt),
            "clustering.pair_recall": recall,
            "clustering.pair_precision": precision,
        }


WORKLOADS = {w.name: w for w in (CrawlUniform, ClusterNews)}
