"""The benchmark's workloads: each is a fixed list of ops, run in order.

* ``sentiment_tweets`` — the reference's own user session through the public
  API on a labeled tweet CSV: extract the word lists (a training write),
  then ``analyze()`` with ``word-score`` (stemming on) and with ``our-nlp``,
  each writing parquet as the CLI's ``--output`` does. It is where CSV
  sniffing, text-column detection, the cleaning/stemming/tokenizing UDFs,
  the scorers and the Arrow/Python boundary do their work.
* ``catalog_queries`` — eight registry queries that run no Python UDF, each
  written to parquet as ``--query NAME --output`` does, with
  ``release_caches()`` after each. It is where the ``load()`` fan-out,
  broadcast joins on tiny dimension tables, eager sizing actions, per-query
  scheduling and (in ``dedup_clusters``) the iterative connected-components
  loop do their work.

The MLlib half of the tweet session (``train`` and ``analyze`` with
``mlib``) is left out: on Sentiment140's 0/4 labels its outputs are wrong
(see the README's Known engine defect).

Every op calls the engine through module attributes (``io.save``, not a
``from`` import) so the traced run's wrappers see the call.
"""

from __future__ import annotations

import importlib
import os
from dataclasses import dataclass
from typing import Callable

#: catalog query -> the tables it reads (its input rows are their sum)
CATALOG = {
    "q1_pricing_summary": ("lineitem",),
    "q3_shipping_priority": ("customer", "orders", "lineitem"),
    "q5_local_supplier": ("region", "nation", "customer", "supplier",
                          "orders", "lineitem"),
    "q10_returned_items": ("customer", "orders", "lineitem"),
    "window_running_sum": ("orders",),
    "events_sessionize": ("events",),
    "events_stickiness_hll": ("events",),
    "dedup_clusters": ("documents",),
}
ANALYZE_METHODS = ("word-score", "our-nlp")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


#: input size: tweet rows, or the catalog's TPC-H-style scale factor
SIZES = {"sentiment_tweets": 3000, "catalog_queries": 0.02}
#: the smoke test's sizes: the same code paths in seconds
TINY_SIZES = {"sentiment_tweets": 600, "catalog_queries": 0.001}
WORKLOADS = tuple(SIZES)
#: nominal time of one timed pass, on either workload (see timed_passes)
PASS_S = 15.0


def timed_passes(seconds: float) -> int:
    """The number of timed passes: a function of ``--seconds`` alone, never
    of how fast the host ran, so every run of a workload with the same
    arguments times the same ops. At least two, for the first/last ratio."""
    return max(2, round(seconds / PASS_S))


@dataclass
class Op:
    name: str
    rows: int                               # input rows the op consumes
    run: Callable[["Context", str], dict]   # (ctx, out_dir) -> facts


@dataclass
class Context:
    spark: object
    inputs: str                 # dir holding the generated inputs
    tracer: object              # layers.Tracer (disabled when untraced)
    status: object = None       # layers.StatusReader in the traced run
    warm_up: bool = False       # ops run concurrently: leave caches alone

    def release(self) -> dict:
        """``release_caches()`` after an op, as the CLI does after a query;
        the traced run samples the cache size just before."""
        from spark_sentiment_spark.plans import registry

        if self.warm_up:
            return {}
        peak = self.status.cache_bytes() if self.status is not None else 0
        return {"caches_released": registry.release_caches(),
                "cache_bytes": peak}


# --- sentiment_tweets -------------------------------------------------------

def tweets_path(inputs: str) -> str:
    return os.path.join(inputs, "tweets.csv")


def _save_wordlists(ctx: Context, out: str) -> dict:
    """The CLI's word-list training: load (with CSV sniffing), detect the
    text and label columns, clean with stemming on, extract and write."""
    from spark_sentiment_spark.analyze import CLEANED_COL
    from spark_sentiment_spark.functions import text
    from spark_sentiment_spark.operators import detection, wordlist_extraction
    from spark_sentiment_spark.sources import io

    df, _ = io.load(ctx.spark, tweets_path(ctx.inputs))
    text_col = detection.detect_text_column(df, 100)
    cleaned = text.clean_source(df, text_col, CLEANED_COL, stem=True)
    label = detection.detect_categorical_column(cleaned, 100)
    wordlist_extraction.save_wordlists(cleaned, CLEANED_COL, label, out)
    return ctx.release()


def _analyze(method: str):
    def run(ctx: Context, out: str) -> dict:
        # the package's lazy ``analyze`` attribute is the function, so
        # reach the module (whose attribute the traced run wraps) by name
        analyze = importlib.import_module("spark_sentiment_spark.analyze")
        analyze.analyze(ctx.spark, tweets_path(ctx.inputs), method=method,
                        stem=True, output=out, output_type="parquet")
        return ctx.release()
    return run


# --- catalog_queries --------------------------------------------------------

def _catalog(name: str):
    def run(ctx: Context, out: str) -> dict:
        from spark_sentiment_spark.plans import registry
        from spark_sentiment_spark.sources import io

        with ctx.tracer.span("plans.build"):
            df = registry.REGISTRY[name].fn(ctx.spark, ctx.inputs)
        with ctx.tracer.span("plans.exec"):
            io.save(df, out, "parquet")
        return ctx.release()
    return run


def ops(workload: str, counts: dict) -> list[Op]:
    """The workload's op list; ``counts`` are the generated inputs' rows."""
    if workload == "sentiment_tweets":
        n = counts["rows"]
        return ([Op("save_wordlists", n, _save_wordlists)]
                + [Op(f"analyze_{m}", n, _analyze(m))
                   for m in ANALYZE_METHODS])
    from spark_sentiment_spark.plans.registry import all_queries

    all_queries()
    return [Op(q, sum(counts[t] for t in tables), _catalog(q))
            for q, tables in CATALOG.items()]
