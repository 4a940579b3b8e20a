"""The workloads: their inputs, op types and correctness checks.

- ``etl_convert``: the write path that turns raw analysis output into
  GeoSPARQL TTL (sources -> pipelines render -> sinks.ttl writer).
- ``geosparql_query``: the read path over that output (sparql compile,
  Catalyst planning, shuffled joins; no file sink).
- ``operator_mix``: registry queries whose cost is operators, scheduling
  and the Python-runner floor (no pipeline, no sink).
"""

from __future__ import annotations

import gzip
import json
import os

import gen
from fingerprint import fingerprint
from harness import Op, Outcome

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")
ORACLE_SF = os.path.join(DATA_DIR, "sf0.01")
TS = "2024-01-01T00:00:00Z"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _read_outputs(out_dir: str) -> dict[str, str]:
    """relative name -> text of every file a sink wrote (gzip decoded)."""
    files = {}
    for d, _, fs in os.walk(out_dir):
        for f in fs:
            if f.startswith(".") or f.startswith("_"):
                continue
            path = os.path.join(d, f)
            opener = gzip.open if f.endswith(".gz") else open
            with opener(path, "rt", encoding="utf-8") as fh:
                files[os.path.relpath(path, out_dir)] = fh.read()
    return files


def _count_check(out_dir: str, expect: dict[str, int], marker: str, records: int, in_bytes: int) -> Outcome:
    """Every expected file exists, no other does, and each holds the
    expected number of ``marker`` occurrences (one per rendered feature)."""
    got = _read_outputs(out_dir)
    counts = {name: text.count(marker) for name, text in got.items()}
    ok = counts == expect
    detail = "" if ok else f"{len(counts)} files vs {len(expect)} expected; first diff " + str(
        next(((k, counts.get(k), expect.get(k)) for k in sorted(set(counts) | set(expect)) if counts.get(k) != expect.get(k)), None)
    )
    return Outcome(ok, records, in_bytes, _dir_bytes(out_dir), len(got), detail)


# --- etl_convert --------------------------------------------------------


class JsonEtl(Op):
    name = "json_etl"

    def __init__(self, spark, inp: str, truth: dict):
        self.spark, self.inp, self.truth = spark, inp, truth
        self.in_bytes = _dir_bytes(inp)

    def probe(self, ctx, spans):
        from geosparql_etl_spark.pipelines import json_etl
        from geosparql_etl_spark.sources.geojson import read_geojson_features

        with spans("scan"):
            _noop(read_geojson_features(self.spark, self.inp))
        with spans("render"):
            _noop(json_etl.render_ttl_documents(read_geojson_features(self.spark, self.inp), TS))

    def run(self, ctx, spans):
        from geosparql_etl_spark.pipelines import json_etl

        with spans("full"):
            json_etl.run(self.spark, self.inp, os.path.join(ctx, "out"), TS)

    def check(self, ctx, result):
        return _count_check(
            os.path.join(ctx, "out"), self.truth["per_file"], "geo:Feature;", self.truth["records"], self.in_bytes
        )


class SegmentationEtl(Op):
    name = "segmentation_etl"

    def __init__(self, spark, base: str, truth: dict):
        self.spark, self.base, self.truth = spark, base, truth
        self.in_bytes = _dir_bytes(base)

    def probe(self, ctx, spans):
        from geosparql_etl_spark.pipelines import segmentation_etl
        from geosparql_etl_spark.sources.segmentation import read_patch_csvs

        with spans("scan"):
            _noop(read_patch_csvs(self.spark, self.base))
        with spans("render"):
            _noop(segmentation_etl.render_ttl_documents(read_patch_csvs(self.spark, self.base), TS))

    def run(self, ctx, spans):
        from geosparql_etl_spark.pipelines import segmentation_etl

        with spans("full"):
            segmentation_etl.run(self.spark, self.base, os.path.join(ctx, "out"), TS)

    def check(self, ctx, result):
        return _count_check(
            os.path.join(ctx, "out"), self.truth["per_file"], "geo:Feature;", self.truth["records"], self.in_bytes
        )


class MongoEtl(Op):
    name = "mongo_etl"

    def __init__(self, spark, standins: str, truth: dict, batch: int):
        self.spark, self.standins, self.truth, self.batch = spark, standins, truth, batch
        self.in_bytes = _dir_bytes(standins)

    def _config(self, ctx):
        from geosparql_etl_spark.config import EngineConfig, MongoSourceConfig

        return EngineConfig(
            batch_size=self.batch,
            output_dir=os.path.join(ctx, "out"),
            ledger_path=os.path.join(ctx, "ledger"),  # fresh per op
            mongo=MongoSourceConfig(fallback_dir=self.standins),
        )

    def probe(self, ctx, spans):
        from geosparql_etl_spark.operators.ledger import read_ledger
        from geosparql_etl_spark.pipelines import mongo_etl
        from geosparql_etl_spark.sources.mongo import read_analyses, read_marks

        cfg = self._config(ctx)
        with spans("scan"):
            _noop(read_analyses(self.spark, cfg.mongo))
            _noop(read_marks(self.spark, cfg.mongo))
        with spans("render"):
            _noop(
                mongo_etl.render_ttl_documents(
                    read_analyses(self.spark, cfg.mongo),
                    read_marks(self.spark, cfg.mongo),
                    ledger=read_ledger(self.spark, cfg.ledger_path),
                    batch_size=cfg.batch_size,
                )
            )

    def run(self, ctx, spans):
        from geosparql_etl_spark.pipelines import mongo_etl

        with spans("full"):
            mongo_etl.run_from_config(self.spark, self._config(ctx))

    def check(self, ctx, result):
        return _count_check(
            os.path.join(ctx, "out"), self.truth["per_file"], "a geo:Feature ;", self.truth["records"], self.in_bytes
        )


class HashRewrite(Op):
    name = "hash_rewrite"

    def __init__(self, spark, root: str, truth: dict):
        self.spark, self.truth = spark, truth
        self.docs, self.hashes = os.path.join(root, "docs"), os.path.join(root, "slide_hashes.json")
        self.in_bytes = _dir_bytes(root)

    def _frames(self):
        from pyspark.sql import functions as F

        from geosparql_etl_spark.pipelines.hash_update import update_hashes_by_slide_id
        from geosparql_etl_spark.sources.ttl import read_slide_hashes, read_ttl_documents

        docs = read_ttl_documents(self.spark, self.docs)
        hashes = read_slide_hashes(self.spark, self.hashes)
        out = update_hashes_by_slide_id(docs, hashes).withColumn(
            "file_name", F.element_at(F.split("path", "/"), -1)
        )
        return docs, hashes, out

    def probe(self, ctx, spans):
        docs, hashes, out = self._frames()
        with spans("scan"):
            _noop(docs)
            _noop(hashes)
        with spans("render"):
            _noop(out)

    def run(self, ctx, spans):
        from geosparql_etl_spark.sinks.ttl import rewrite_documents

        with spans("full"):
            rewrite_documents(self._frames()[2], os.path.join(ctx, "out"))

    def check(self, ctx, result):
        out = os.path.join(ctx, "out")
        got = _read_outputs(out)
        expect = self.truth["expect"]
        bad = [n for n, h in expect.items() if f":{h}>" not in got.get(n, "")]
        ok = not bad and set(got) == set(expect)
        n = self.truth["records"]
        detail = "" if ok else f"wrong or missing: {bad[:3]}; {len(got)} files"
        return Outcome(ok, n, self.in_bytes, _dir_bytes(out), len(got), detail)


MONGO_BATCH = 250  # marks per output file, so each analysis spans several


def etl_convert_inputs(inputs: str, seed: int) -> dict:
    return {
        "json": gen.geojson_corpus(os.path.join(inputs, "geojson"), seed, 8, 250),
        "seg": gen.patch_tree(os.path.join(inputs, "patches"), seed + 1, 4, 4, 100),
        "mongo": gen.mongo_standins(os.path.join(inputs, "mongo"), seed + 2, 4, 500, MONGO_BATCH),
        "ttl": gen.ttl_docs(os.path.join(inputs, "ttl"), seed + 3, 40, 20),
    }


def etl_convert(spark, inputs: str, truths: dict):
    """The four write-path op types over their seeded inputs."""
    return [
        JsonEtl(spark, os.path.join(inputs, "geojson"), truths["json"]),
        SegmentationEtl(spark, os.path.join(inputs, "patches"), truths["seg"]),
        MongoEtl(spark, os.path.join(inputs, "mongo"), truths["mongo"], MONGO_BATCH),
        HashRewrite(spark, os.path.join(inputs, "ttl"), truths["ttl"]),
    ]


# --- geosparql_query ----------------------------------------------------

PREFIXES = """PREFIX geo: <http://www.opengis.net/ont/geosparql#>
PREFIX geof: <http://www.opengis.net/def/function/geosparql/>
PREFIX hal: <https://halcyon.is/ns/>
PREFIX sno: <http://snomed.info/id/>
PREFIX dc: <http://purl.org/dc/terms/>
"""
_X0, _Y0, _X1, _Y1 = (int(v) for v in gen.ROI)
QUERIES = {
    "class_counts": "SELECT ?c (COUNT(?f) AS ?n) WHERE { GRAPH ?g { ?f a geo:Feature ; hal:classification ?c } } GROUP BY ?c",
    "high_prob": "SELECT ?g ?m ?p WHERE { GRAPH ?g { ?f hal:measurement ?m . ?m hal:classification ?c . "
    f"?m hal:hasProbability ?p FILTER(?p > {gen.HIGH_PROB}) }} }}",
    "roi_intersects": "SELECT ?g ?geom WHERE { GRAPH ?g { ?geom geo:asWKT ?w "
    f'FILTER(geof:sfIntersects(?w, "POLYGON(({_X0} {_Y0}, {_X1} {_Y0}, {_X1} {_Y1}, {_X0} {_Y1}, {_X0} {_Y0}))"^^geo:wktLiteral)) }} }}',
    "per_image": "SELECT ?id (COUNT(?f) AS ?n) WHERE { GRAPH ?g { ?img dc:identifier ?id . ?f a geo:Feature } } GROUP BY ?id",
    "values_lookup": "SELECT ?g ?f WHERE { VALUES ?c { "
    + " ".join(f"sno:{c}" for c in gen.VALUES_CLASSES)
    + " } GRAPH ?g { ?f a geo:Feature ; hal:classification ?c } }",
}


def _query_truth(name: str, truth: dict):
    """The expected answer of a query: a dict for the grouped queries,
    a row count for the others."""
    if name == "class_counts":
        return {gen.SNO + c: n for c, n in truth["per_class"].items()}
    if name == "per_image":
        return dict(truth["per_image"])
    return truth[{"high_prob": "high", "roi_intersects": "roi", "values_lookup": "values"}[name]]


class SparqlOp(Op):
    def __init__(self, store, name: str, expect):
        self.store, self.name, self.text, self.expect = store, name, PREFIXES + QUERIES[name], expect

    def run(self, ctx, spans):
        from geosparql_etl_spark.sparql import sparql_select

        with spans("compile"):
            df = sparql_select(self.store, self.text)
        with spans("plan"):
            df._jdf.queryExecution().executedPlan()
        with spans("exec"):
            return df.collect()

    def check(self, ctx, rows):
        if isinstance(self.expect, dict):
            got = {r[0]: r[1] for r in rows}
            ok = got == self.expect and len(got) == len(rows)
        else:
            ok = len(rows) == self.expect
        return Outcome(ok, rows=len(rows), detail="" if ok else f"{len(rows)} rows; expected {self.expect}"[:200])


def geosparql_query_inputs(inputs: str, seed: int) -> dict:
    return gen.geojson_corpus(os.path.join(inputs, "geojson"), seed, 40, 150)


def geosparql_query(spark, inputs: str, truth: dict):
    """Convert the GeoJSON corpus with json_etl, load it graph-scoped
    (one named graph per document) and return the query ops. The store
    load is set-up, not a timed op."""
    from geosparql_etl_spark.pipelines import json_etl
    from geosparql_etl_spark.sources.ttl import read_ttl_documents
    from geosparql_etl_spark.sources.turtle import turtle_to_triples
    from geosparql_etl_spark.sparql import TripleStore

    ttl = os.path.join(inputs, "ttl")
    json_etl.run(spark, os.path.join(inputs, "geojson"), ttl, TS)
    triples = turtle_to_triples(read_ttl_documents(spark, ttl)).localCheckpoint(eager=True)
    store = TripleStore.from_ntriples(triples, with_graphs=True)
    return [SparqlOp(store, name, _query_truth(name, truth)) for name in QUERIES]


# --- operator_mix -------------------------------------------------------

# d12_dup_pagerank, er02_golden_record, llm25_semantic_training_funnel
# (2-3 s each warm, 4-7 s cold) and sim01_cosine_topk do not fit the
# per-run time budget next to a warm-up pass and five rounds of these:
# d08 and sp09 carry the fixpoint loops, sim06 the similarity arms.
OPERATOR_OPS = (
    "d08_dedup_clusters",
    "sp09_parent_closure",
    "sim06_pq_ann",
    "llm18_bpe_merges",
)


class RegistryOp(Op):
    def __init__(self, spark, name: str, fn, expect: dict):
        self.spark, self.name, self.fn, self.expect = spark, name, fn, expect

    def run(self, ctx, spans):
        if self.name.startswith("sp"):
            from geosparql_etl_spark.sparql import tpch_store

            # the registry's SPARQL queries build their store with
            # tpch_store, memoized per session; prime it in a phase of its
            # own so that ``build`` is the query's compile alone
            with spans("store"):
                tpch_store(self.spark, ORACLE_SF)
        with spans("build"):
            df = self.fn(self.spark, ORACLE_SF)
        with spans("plan"):
            df._jdf.queryExecution().executedPlan()
        with spans("exec"):
            return df.columns, df.collect()

    def check(self, ctx, result):
        cols, rows = result
        got = fingerprint(rows, cols)
        ok = got == self.expect
        return Outcome(ok, rows=len(rows), detail="" if ok else f"fingerprint {got} != oracle {self.expect}")


def operator_mix_inputs(inputs: str, seed: int) -> dict:
    with open(os.path.join(DATA_DIR, "oracle_fingerprints.json")) as fh:
        return json.load(fh)


def operator_mix(spark, inputs: str, expect: dict):
    """Fixed inputs (the sf0.01 test tables these queries read, committed
    under data/) and DuckDB oracle fingerprints committed beside them;
    the seed only permutes the op order."""
    import __spark_entry__ as entry

    qs = entry.queries()
    return [RegistryOp(spark, n, qs[n], expect[n]) for n in OPERATOR_OPS]


# name -> (input generator: (dir, seed) -> truth, op builder: (spark, dir,
# truth) -> ops, seconds per timed round, which sizes the run: see
# harness.rounds_for). A round of either listed workload takes 5-6 s on 4
# vCPUs, its checks and output clean-up included; the values give
# etl_convert six rounds and operator_mix five for --seconds 30, since
# more rounds narrowed etl_convert's spread between runs and left
# operator_mix's where it was. geosparql_query runs by hand (see the README).
WORKLOADS = {
    "etl_convert": (etl_convert_inputs, etl_convert, 5.0),
    "geosparql_query": (geosparql_query_inputs, geosparql_query, 2.3),
    "operator_mix": (operator_mix_inputs, operator_mix, 6.0),
}
