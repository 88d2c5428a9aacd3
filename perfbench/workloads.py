"""One pass of each workload, with its check against generator-known truth.

A pass raises ``WrongResult`` when its output differs from the
expectation the generator wrote; any other exception is a failed pass too.
Spans open only when the tracer is on; the untraced pass runs exactly what
a user of the program would run.
"""

from __future__ import annotations

from contextlib import nullcontext
from unittest import mock

from etl_cotrip_signs_spark.operators import graph
from etl_cotrip_signs_spark.operators.signs import signs_pipeline
from etl_cotrip_signs_spark.sinks.http import http_batch_sink
from etl_cotrip_signs_spark.sources.geojson import features_to_df
from etl_cotrip_signs_spark.sources.rest import fetch_all_features, file_fetcher

from gen import multiset_hash, pair_hash
from probes import Tracer

ALLOWED = ["Point", "LineString", "Polygon"]  # all three geometry flags on
SINK_URL = "counting://signs"  # the poster below never opens it


class WrongResult(AssertionError):
    pass


def _expect(name: str, got, want) -> None:
    if got != want:
        raise WrongResult(f"{name}: got {got!r}, expected {want!r}")


def signs_pass(spark, in_dir: str, expected: dict, tracer: Tracer) -> None:
    """The paper's dataflow: page chain -> features DataFrame -> project,
    explode Multi*, filter -> batched POSTs to an in-process poster."""
    sc = spark.sparkContext
    posts, posted, failures, digest = (sc.accumulator(0) for _ in range(4))

    def poster(url: str, payload: dict) -> None:  # runs in Python workers
        feats = payload.get("features")
        if payload.get("type") != "FeatureCollection" or not feats:
            failures.add(1)
            return
        posts.add(1)
        posted.add(len(feats))
        digest.add(sum(pair_hash(f["id"], f["geometry"]["type"]) for f in feats))

    fetch = file_fetcher(in_dir)
    pages = 0

    def counting_fetch(offset):
        nonlocal pages
        pages += 1
        return fetch(offset)

    with tracer.span("sources.rest.fetch"):
        features = fetch_all_features(counting_fetch)
    with tracer.span("sources.geojson.to_df"):
        df = features_to_df(spark, features)
    out = signs_pipeline(df, ALLOWED)
    if tracer.on:
        with tracer.span("operators.signs.transform"):
            out.write.format("noop").mode("overwrite").save()
    with tracer.span("sinks.http.sink"):
        http_batch_sink(out, SINK_URL, poster=poster)

    tracer.count("sources.rest.pages", pages)
    tracer.count("sources.rest.features", len(features))
    tracer.count("operators.signs.rows_in", len(features))
    tracer.count("operators.signs.rows_out", posted.value)
    tracer.count("sinks.http.posts", posts.value)
    tracer.count("sinks.http.features_posted", posted.value)
    tracer.count("sinks.http.post_failures", failures.value)
    _expect("pages", pages, expected["pages"])
    _expect("features in", len(features), expected["features_in"])
    _expect("post failures", failures.value, 0)
    _expect("features posted", posted.value, expected["rows_out"])
    _expect("(id, geom_type) hash", str(digest.value % 2**64), expected["hash"])


def dedup_pass(spark, in_dir: str, expected: dict, tracer: Tracer) -> None:
    """``dedup_components_ngram``: n-gram Jaccard pairs -> connected
    components -> (doc_id, component) for every document."""
    with _traced_dedup_layers(tracer) if tracer.on else nullcontext():
        rows = graph.dedup_components_ngram(spark, in_dir).collect()
    comps = {r["component"] for r in rows}
    tracer.count("operators.graph.components", len(comps))
    _expect("documents", len(rows), expected["docs"])
    _expect("components", len(comps), expected["components"])
    _expect("(doc_id, component) hash", multiset_hash((r["doc_id"], r["component"]) for r in rows), expected["hash"])


def _traced_dedup_layers(tracer: Tracer):
    """Wrap the two layers ``dedup_components_ngram`` calls, as the module
    globals it looks them up by. The pair list is materialized inside its
    span, so the span holds the pair work instead of deferring it to CC."""
    pairs_fn, cc_fn = graph.dedup_ngram_jaccard, graph.connected_components

    def pairs(spark, sf_dir):
        with tracer.span("operators.dedup.pairs"):
            df = pairs_fn(spark, sf_dir).localCheckpoint(eager=True)
        tracer.count("operators.dedup.pairs", df.count())
        return df

    def cc(*args, **kwargs):
        with tracer.span("operators.graph.cc"):
            return cc_fn(*args, **kwargs)

    return mock.patch.multiple(graph, dedup_ngram_jaccard=pairs, connected_components=cc)


PASSES = {"signs_etl": signs_pass, "dedup_dense": dedup_pass, "dedup_chains": dedup_pass}
