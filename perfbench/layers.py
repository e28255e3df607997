"""The traced run: per-layer metrics, each taken from outside the program by
timing a call into one layer's public functions.

A traced run of either workload reports every per-layer metric:

1. the workload's own passes, cold pass and warm-up discarded, then timed
   passes alternating tracing on and off (job/stage/task counts per pass from
   ``statusTracker`` over one job group per pass, JVM and Python-worker CPU
   per pass from /proc, and the tracing overhead as traced against untraced
   throughput);
2. layer probes: each field operator, extraction step, dedup/ANN query and
   crawl phase forced alone over this seed's generated inputs, in a span
   named after the module and function it calls.  A probe's metric is the
   median self time of its spans.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
from contextlib import nullcontext

from pyspark.sql import functions as F

import harness as H
import workloads as W

# name -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.jvm_cpu_s": "s",
    "spark.pyworker_cpu_s": "s", "host.steal_frac": "fraction",
    "trace.items_per_s_ratio": "ratio",
    # fields
    "core.pipeline.clean_string_s": "s",
    "kernels.html_text.remove_html_s": "s",
    "kernels.price.price_parser_s": "s",
    "operators.numeric.to_float_s": "s",
    "operators.numeric.normalize_numeric_s": "s",
    "operators.numeric.extract_digits_s": "s",
    "kernels.fuzzy_date.datetime_extraordinaire_s": "s",
    "operators.datetime_ops.date_s": "s",
    "operators.contact.emails_s": "s",
    "operators.contact.socials_s": "s",
    "kernels.phone.phone_numbers_s": "s",
    "kernels.emoji_data.demojize_s": "s",
    "operators.misc.json_get_s": "s",
    "operators.url.url_canonicalize_s": "s",
    "operators.reducers.take_first_truthy_s": "s",
    "operators.reducers.join_s": "s",
    # extract
    "sources.pages.read_pages_s": "s",
    "kernels.html_text.html_to_text_s": "s",
    "datapipe.textstats.token_count_s": "s",
    "datapipe.textstats.quality_score_s": "s",
    "datapipe.textstats.lang_id_s": "s",
    "datapipe.textstats.fingerprint_s": "s",
    "datapipe.dedup.simhash_s": "s",
    "datapipe.dedup.minhash_lanes_s": "s",
    "datapipe.textstats.lang_id_accuracy": "fraction",
    # dedup
    "datapipe.dedup.exact_dedup_s": "s",
    "datapipe.dedup.minhash_pairs_s": "s",
    "datapipe.dedup.ngram_jaccard_s": "s",
    "datapipe.dedup.embedding_dedup_s": "s",
    "datapipe.similarity.cosine_topk_s": "s",
    "datapipe.similarity.lsh_topk_s": "s",
    "datapipe.similarity.ivf_topk_s": "s",
    "datapipe.dedup.minhash_pair_recall": "fraction",
    "datapipe.similarity.lsh_recall_at_5": "fraction",
    "datapipe.similarity.ivf_recall_at_5": "fraction",
    # crawl
    "frontier.crawler.init_state_s": "s",
    "frontier.crawler.crawl_round_s": "s",
    "frontier.crawler.rounds": "count",
    "frontier.crawler.fetched": "count",
    "frontier.crawler.new_urls": "count",
    "frontier.crawler.seen_urls": "count",
    "frontier.crawler.new_per_fetched": "ratio",
    "frontier.crawler.match_frac": "fraction",
    "frontier.checkpoint.bytes_written": "bytes",
    "frontier.checkpoint.bytes_per_url": "bytes",
    "frontier.checkpoint.read_checkpoint_s": "s",
    "frontier.bloom.filter_unseen_s": "s",
    "frontier.bloom.fp_rate": "fraction",
}


def job_counts(sc, group: str) -> tuple:
    """(jobs, stages, tasks, failed tasks) of one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else []):
            si = st.getStageInfo(s)
            if si is not None:
                stages += 1
                tasks += si.numTasks
                failed += si.numFailedTasks
    return len(jobs), stages, tasks, failed


def traced_run(wl, spark, tracer, procs, seconds: float, workdir: str) -> dict:
    sc = spark.sparkContext
    tracer.enabled = False
    H.timed(wl.run_pass)
    H.warm_up(wl.run_pass, [])
    times = {True: [], False: []}
    counts = []
    cpu0 = procs.sample()
    i = 0
    end = time.perf_counter() + seconds
    while time.perf_counter() < end or min(map(len, times.values())) < 2:
        tracer.enabled = i % 2 == 0
        group = f"pass-{i}"
        sc.setJobGroup(group, group)
        times[tracer.enabled].append(H.timed(wl.run_pass))
        counts.append(job_counts(sc, group))
        i += 1
    cpu1 = procs.sample()
    sc.setLocalProperty("spark.jobGroup.id", None)
    tracer.enabled = True
    n = len(counts)
    values = {
        "spark.jobs": sum(c[0] for c in counts) / n,
        "spark.stages": sum(c[1] for c in counts) / n,
        "spark.tasks": sum(c[2] for c in counts) / n,
        "spark.failed_tasks": sum(c[3] for c in counts) / n,
        "spark.jvm_cpu_s": (cpu1["jvm_cpu_s"] - cpu0["jvm_cpu_s"]) / n,
        "spark.pyworker_cpu_s": (cpu1["py_cpu_s"] - cpu0["py_cpu_s"]) / n,
        # traced / untraced items_per_s: below 1 is the cost of tracing
        "trace.items_per_s_ratio": (statistics.median(times[False])
                                    / statistics.median(times[True])),
    }

    items = wl if isinstance(wl, W.Items) else W.Items(spark, wl.seed, workdir, tracer)
    dedup = wl if isinstance(wl, W.Dedup) else W.Dedup(spark, wl.seed, workdir, tracer)
    for other in (items, dedup):
        if other is not wl:
            other.prepare()
    values.update(item_probes(spark, items, tracer))
    values.update(dedup_probes(spark, dedup, tracer))
    values.update(crawl_probes(spark, wl.seed, tracer, workdir))
    for name, spans in tracer.self_times().items():
        if f"{name}_s" in PER_LAYER:
            values[f"{name}_s"] = statistics.median(spans)
    missing = [k for k in PER_LAYER if k not in values and k != "host.steal_frac"]
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {missing}")
    matched, checked, failures = wl.check()
    return {
        "correct": matched == checked, "attempted": checked,
        "failed": checked - matched,
        "metrics": {k: {"value": v, "unit": PER_LAYER[k]} for k, v in values.items()},
        "info": {"passes": n, "traced_s": times[True], "untraced_s": times[False],
                 "job_counts": counts, "failures": failures},
    }


def _probe(tracer, name: str, df) -> None:
    with tracer.span(name):
        H.force(df)


def item_probes(spark, items, tracer) -> dict:
    from scrapy_processors_spark import (
        Date, DateTimeExtraordinaire, Demojize, Emails, ExtractDigits, JsonGet,
        Join, MapCompose, NormalizeNumericString, PhoneNumbers, PriceParser,
        RemoveHTMLTags, Socials, TakeFirstTruthy, ToFloat, UrlCanonicalize,
        clean_string)
    from scrapy_processors_spark.datapipe import dedup, textstats
    from scrapy_processors_spark.sources.pages import read_pages

    with tracer.span("sources.pages.read_pages"):
        pages = read_pages(spark, items.path)
        H.force(pages)
    text = F.col("text")
    chain = {
        "kernels.html_text.remove_html": ("title_vals", RemoveHTMLTags()),
        "kernels.emoji_data.demojize": ("title_vals", Demojize()),
        "kernels.price.price_parser": ("price_vals", PriceParser()),
        "operators.numeric.to_float": ("price_vals", ToFloat(decimal_places=2)),
        "operators.numeric.normalize_numeric": ("price_vals", NormalizeNumericString(
            thousands_separator=",", decimal_separator=".", decimal_places=2,
            keep_trailing_zeros=True)),
        "operators.numeric.extract_digits": ("sku_vals", ExtractDigits()),
        "kernels.fuzzy_date.datetime_extraordinaire": ("date_vals",
                                                       DateTimeExtraordinaire()),
        "operators.datetime_ops.date": ("pub_date_vals", Date()),
        "operators.contact.emails": ("contact_vals", Emails()),
        "kernels.phone.phone_numbers": ("contact_vals", PhoneNumbers()),
        "operators.misc.json_get": ("props_vals", JsonGet(expression="brand.name")),
        "operators.url.url_canonicalize": ("link_vals", UrlCanonicalize()),
    }
    for name, (col, op) in chain.items():
        _probe(tracer, name, pages.select(MapCompose(op).apply_array(F.col(col))))
    whole = {
        "operators.contact.socials": Socials()(F.col("footer_html")),
        "operators.reducers.take_first_truthy": TakeFirstTruthy()(F.col("title_vals")),
        "operators.reducers.join": Join(", ")(F.col("contact_vals")),
        "kernels.html_text.html_to_text": RemoveHTMLTags()(F.col("html").cast("string")),
        # the text steps read the generated text, which equals the extraction
        "core.pipeline.clean_string": clean_string.apply_scalar(text),
        "datapipe.textstats.token_count": textstats.token_count_ws(text),
        "datapipe.textstats.quality_score": textstats.quality_score(text),
        "datapipe.textstats.lang_id": textstats.lang_id(text),
        "datapipe.textstats.fingerprint": textstats.fingerprint(text),
        "datapipe.dedup.simhash": dedup.simhash16_kernel(text),
        "datapipe.dedup.minhash_lanes": dedup.minhash_lanes_kernel(4, 2)(text),
    }
    for name, col in whole.items():
        _probe(tracer, name, pages.select(col))
    rows = pages.select("lang", textstats.lang_id(text).alias("g")).collect()
    return {"datapipe.textstats.lang_id_accuracy":
            sum(r.lang == r.g for r in rows) / len(rows)}


def dedup_probes(spark, corpus, tracer) -> dict:
    from scrapy_processors_spark.datapipe import similarity
    from scrapy_processors_spark.datapipe.queries import DATAPIPE_QUERIES

    for name in W.QUERY_SPANS:
        corpus.run_query(name)
    pairs = {(r.id_a, r.id_b) for r in
             DATAPIPE_QUERIES["dedup_minhash"](spark, corpus.corpus).collect()}
    emb = spark.read.parquet(os.path.join(corpus.corpus, "embeddings.parquet"))
    queries = emb.where(F.col("vec_id") < 20)
    exact = similarity.cosine_topk(queries, emb, k=5).select("query_id", "cand_id")
    exact = exact.localCheckpoint(eager=True)
    return {
        "datapipe.dedup.minhash_pair_recall":
            sum(p in pairs for p in corpus.planted) / len(corpus.planted),
        "datapipe.similarity.lsh_recall_at_5":
            similarity.lsh_recall(queries, emb, k=5, exact=exact),
        "datapipe.similarity.ivf_recall_at_5":
            similarity.ivf_recall(queries, emb, k=5, exact=exact),
    }


def _crawl(spark, cfg, seeds, robots, tracer=None):
    from scrapy_processors_spark.frontier import crawler

    span = tracer.span if tracer is not None else (lambda name: nullcontext())
    with span("frontier.crawler.init_state"):
        state = crawler.init_state(spark, seeds, cfg)
    while state["round"] < cfg.max_rounds:
        with span("frontier.crawler.crawl_round"):
            state = crawler.crawl_round(spark, state, robots, cfg)
    return state


def _identity(df, n_buckets: int):
    """The crawler's URL identity (canonical url, xxhash64, host bucket)."""
    from scrapy_processors_spark.frontier.canonicalize import canonicalize_url, url_host

    out = df.select(canonicalize_url(F.col("url")).alias("url"))
    out = out.select("url", F.xxhash64("url").alias("url_hash"),
                     url_host(F.col("url")).alias("host"))
    return out.withColumn(
        "bucket", F.pmod(F.hash("host"), F.lit(n_buckets)).cast("int"))


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def crawl_probes(spark, seed: int, tracer, workdir: str) -> dict:
    from scrapy_processors_spark.frontier import bloom, checkpoint, crawler, graph

    rng = random.Random(f"crawl:{seed}")
    urls = [f"https://host{W.zipf_host(rng, W.CRAWL_HOSTS)}.example.com/seed/{i}"
            for i in range(W.CRAWL_SEEDS)]
    seeds = spark.createDataFrame([(u,) for u in urls], "url string")
    robots = graph.robots_table(spark, W.CRAWL_HOSTS)
    root = os.path.join(workdir, "crawl")

    def config(**kw):
        return crawler.CrawlConfig(n_hosts=W.CRAWL_HOSTS, n_buckets=W.CRAWL_BUCKETS,
                                   max_rounds=W.CRAWL_ROUNDS, **kw)

    cfg = config(checkpoint_root=root)
    state = _crawl(spark, cfg, seeds, robots, tracer)
    with tracer.span("frontier.checkpoint.read_checkpoint"):
        loaded = checkpoint.read_checkpoint(spark, root, state["round"])
        seen_n = loaded["seen"].count()
        loaded["fetch_log"].count()
    fetched = sum(m["fetched"] for m in cfg.metrics)
    new = sum(m["new_urls"] for m in cfg.metrics)
    nbytes = _du(root)

    probes = spark.createDataFrame(
        [(f"https://unseen{i % 97}.example.org/x/{seed}-{i}",) for i in range(W.FP_PROBES)],
        "url string")
    with tracer.span("frontier.bloom.filter_unseen"):
        fp = bloom.filter_unseen(_identity(probes, W.CRAWL_BUCKETS), state["bloom"]) \
            .agg(F.avg(F.col("maybe_seen").cast("double"))).first()[0]

    exact = _crawl(spark, config(use_bloom=False), seeds, robots)
    pairs = []
    for key, cols in (("seen", ("url_hash", "url")), ("fetch_log", ("round", "url"))):
        a = W.digest(state[key].select(*cols).collect())
        b = W.digest(exact[key].select(*cols).collect())
        pairs.append((a, b))
    matched, checked = W.check_digests(pairs)
    if matched < checked:
        print(f"perfbench: MISMATCH crawl digests (bloom, exact): {pairs}",
              file=sys.stderr)
    return {
        "frontier.crawler.rounds": state["round"],
        "frontier.crawler.fetched": fetched,
        "frontier.crawler.new_urls": new,
        "frontier.crawler.seen_urls": seen_n,
        "frontier.crawler.new_per_fetched": new / fetched,
        "frontier.crawler.match_frac": matched / checked,
        "frontier.checkpoint.bytes_written": nbytes,
        "frontier.checkpoint.bytes_per_url": nbytes / seen_n,
        "frontier.bloom.fp_rate": fp,
    }
