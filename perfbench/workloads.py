"""The workloads. Each generates its inputs from the seed (``generate``),
prepares whatever its operations need (``build``), runs one operation per
call of :meth:`Workload.op` (the timed part), and checks that operation's
output in :meth:`Workload.verify` (untimed).

Why these two: the engine has three user-facing costs — how fast a mapping
document becomes an RDF file, how fast a document table becomes a
canonicalized KG table, and how long a SPARQL query over that table takes —
and together these workloads put every engine layer under load.

* ``rml_convert`` — one mapping document of 8 TriplesMaps over small
  parquet, CSV, JSON and XML sources, written as N-Quads. It uses every
  term-map kind (template, reference, constant, class, datatype, GREL
  function, multi-valued split, rr:joinCondition) and set-semantics dedup.
  At this size the operation is driver-bound: parsing, compiling and source
  loading take most of the time, and the rest is Spark job overhead rather
  than data volume.
* ``kg_serve`` — construct once, query many. Set-up runs the checkpointed KG
  pipeline over an interleaved-documents table (the Arrow UDF boundary in
  mention extraction, connected-components canonicalization, stage
  checkpoints and lineage), writes the result with the subject-bucketed
  table sink and computes the predicate histogram. The operations are one
  client's SPARQL queries over that table, each fetched to the client:
  per-query latency, which batch throughput hides.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
from typing import Dict, List

from pyspark.sql import SparkSession

from pyrml_spark.compiler import RMLCompiler
from pyrml_spark.kg.pipeline import KGPipelineConfig, run_pipeline
from pyrml_spark.kg.query import predicate_stats
from pyrml_spark.kg.sparql import sparql_ask, sparql_describe, sparql_select
from pyrml_spark.kg.table import read_triples_table, write_triples_table
from pyrml_spark.nquads import write_nquads
from pyrml_spark.parse_mapping import parse_mapping_file
from pyrml_spark.sources import SourceLoader

from . import gen, oracle
from .trace import Tracer, self_times, subtree


class Workload:
    """One workload over one seed."""

    # warm-up cycles before measuring: with the client JIT one cycle after
    # the build leaves the operations at their steady latency
    warmup_cycles = 1
    # operations a run measures at least, whatever the host speed, so that
    # a faster or slower host does not change how many go into the median
    min_ops = 0

    def __init__(self, spark: SparkSession, work: str, seed: int,
                 tracer: Tracer, corrupt: bool = False) -> None:
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.corrupting = corrupt   # self-test: every check must then fail
        self.con = oracle.connect(os.path.join(work, "tmp"))
        self.data = None
        self.build_checks: List[bool] = []

    def generate(self) -> None:
        """Write the inputs into a fresh directory ``self.data``; may run
        several times, the last one counts."""
        if self.data:
            shutil.rmtree(self.data)
        self.data = os.path.join(self.work, f"in-{os.urandom(4).hex()}")
        os.makedirs(self.data)
        self._generate()

    def _generate(self) -> None:
        raise NotImplementedError

    def build(self) -> None:
        """One-time preparation before the first operation; appends the
        outcome of every output check it makes to ``build_checks``."""

    def cycle(self) -> int:
        """Operations per cycle; a run always ends on a whole cycle."""
        return 1

    def op(self, i: int) -> dict:
        raise NotImplementedError

    def verify(self, out: dict) -> bool:
        """Check ``out`` against the oracle, set ``out['rows']`` and remove
        the output from disk."""
        raise NotImplementedError

    def corrupt(self, out: dict) -> None:
        """Alter one output triple of ``out`` in place (self-test)."""
        raise NotImplementedError

    def trace_extras(self) -> None:
        """Counts the traced run takes once, outside the operations."""

    def user_metrics(self, outs: List[dict]) -> Dict[str, tuple]:
        """Name → (value, unit) of the run's figures under the names the
        workload's users know them by."""
        raise NotImplementedError

    def layers(self, outs: List[dict]) -> Dict[str, float]:
        """Per-layer metrics from the spans of the traced operations."""
        raise NotImplementedError


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


# ---------------------------------------------------------------------------
# rml_convert: parse → compile → write N-Quads
# ---------------------------------------------------------------------------

SOURCE_KINDS = ("csv", "json", "xml", "parquet")


def trace_sources(tracer: Tracer) -> None:
    """Span every ``SourceLoader.load`` the compiler makes, by source kind."""
    tracer.wrap_method(SourceLoader, "load",
                       lambda self, ls: f"sources.{ls.kind}")


class RMLConvert(Workload):
    name = "rml_convert"
    warmup_cycles = 2   # one conversion per cycle; the first is cold
    min_ops = 5
    N_CUST = 1000   # → 10 k orders, 333 documents
    ROWS = 300      # per CSV / JSON / XML file, one file of each

    def _generate(self) -> None:
        tables = gen.tpch_tables(self.data, self.seed, self.N_CUST)
        small = gen.small_sources(self.data, self.seed, 1, self.ROWS)
        self.mapping = os.path.join(self.data, "mapping.ttl")
        with open(self.mapping, "w", encoding="utf-8") as f:
            f.write(oracle.rml_mapping_text(small.maps))
        self.expected = oracle.rml_expected(self.con, tables, small.expected)

    def op(self, i: int) -> dict:
        t = self.tracer
        out = os.path.join(self.work, "out", f"op{i}")
        with t.span("op") as root:
            with t.span("parse_mapping_file"):
                plan = parse_mapping_file(self.mapping,
                                          template_vars={"sf": self.data})
            with t.span("RMLCompiler.compile"):
                df = RMLCompiler(self.spark, plan,
                                 search_roots=[self.data]).compile()
            if t.enabled:
                with t.span("exec.noop", extra=True):
                    df.write.format("noop").mode("overwrite").save()
            with t.span("write_nquads"):
                write_nquads(df, out)
        return {"path": out, "span": root and root["id"],
                "n_maps": len(plan.triples_maps)}

    def verify(self, out: dict) -> bool:
        parts = out["path"] + "/part-*"
        n, h = oracle.digest_text(self.con, parts)
        out["rows"] = n
        out["bytes"] = sum(os.path.getsize(p) for p in glob.glob(parts))
        shutil.rmtree(out["path"])
        return (n, h) == self.expected

    def corrupt(self, out: dict) -> None:
        for p in sorted(glob.glob(out["path"] + "/part-*")):
            with open(p, encoding="utf-8") as f:
                lines = f.readlines()
            if lines:
                lines[0] = lines[0].replace(">", "-corrupt>", 1)
                with open(p, "w", encoding="utf-8") as f:
                    f.writelines(lines)
                return

    def user_metrics(self, outs: List[dict]) -> Dict[str, tuple]:
        rows = sum(o["rows"] for o in outs if o["ok"])
        return {"triples_per_s": (rows / sum(o["seconds"] for o in outs),
                                  "1/s")}

    def trace_extras(self) -> None:
        """Emitted vs distinct triples, for the dedup ratio."""
        plan = parse_mapping_file(self.mapping, template_vars={"sf": self.data})
        comp = RMLCompiler(self.spark, plan, search_roots=[self.data])
        self.emitted = comp.compile(deduplicate=False).count()

    def layers(self, outs: List[dict]) -> Dict[str, float]:
        spans = [s for o in outs for s in subtree(self.tracer.spans, o["span"])]
        self_t = self_times(spans)
        n = len(outs)

        def per_op(name, key=None):
            return sum((self_t[s["id"]] if key is None else s[key])
                       for s in spans if s["name"] == name) / n

        m = {
            "parse_mapping.s": per_op("parse_mapping_file"),
            "parse_mapping.triples_maps": outs[0]["n_maps"],
            "compiler.s": per_op("RMLCompiler.compile"),
            "compiler.spark_jobs": per_op("RMLCompiler.compile", "jobs"),
            "compiler.distinct_ratio": self.expected[0] / max(1, self.emitted),
            "sources.spark_jobs": sum(s["jobs"] for s in spans
                                      if s["name"].startswith("sources.")) / n,
            "exec.s": per_op("exec.noop"),
            "exec.spark_jobs": per_op("exec.noop", "jobs"),
            "exec.spark_stages": per_op("exec.noop", "stages"),
            "exec.failed_tasks": per_op("exec.noop", "failed_tasks"),
            "nquads.bytes_per_triple": (sum(o["bytes"] for o in outs)
                                        / max(1, sum(o["rows"] for o in outs))),
        }
        for kind in SOURCE_KINDS:
            m[f"sources.s.{kind}"] = per_op(f"sources.{kind}")
        write_s = per_op("write_nquads")
        m["nquads.s"] = max(0.0, write_s - m["exec.s"])
        # shares of the untraced operation, parse + compile + write: the
        # noop pass exists only to split execution from the sink
        wall = m["parse_mapping.s"] + m["compiler.s"] + write_s + sum(
            m[f"sources.s.{k}"] for k in SOURCE_KINDS)
        for layer in ("parse_mapping", "compiler", "exec", "nquads"):
            m[f"{layer}.share"] = m[f"{layer}.s"] / wall
        for kind in SOURCE_KINDS:
            m[f"sources.share.{kind}"] = m[f"sources.s.{kind}"] / wall
        return m


# ---------------------------------------------------------------------------
# kg_serve: build the KG once, then one closed-loop SPARQL client
# ---------------------------------------------------------------------------

KG_STAGES = ("mentions", "media_spans", "sameas_edges", "canonical_mapping",
             "triples")

_P = "http://kg.ex/p/"
_OWL_SAMEAS = "<http://www.w3.org/2002/07/owl#sameAs>"
_PREFIX = f"PREFIX kg: <{_P}>\nPREFIX owl: <http://www.w3.org/2002/07/owl#>\n"

# name → (engine call, SPARQL text, DuckDB SQL over the table ``kg``);
# {doc}, {person}, {alias} and {probe} are bound from gen.query_params.
# Selective templates bind a seeded subject; the analytic ones are the
# kg/analytics.py shapes, bound to a seeded subject where the unbound form
# would return a large result.
TEMPLATES = {
    "lookup": ("select",
               "SELECT ?p ?o WHERE {{ {doc} ?p ?o }}",
               "SELECT p, o FROM kg WHERE s = '{doc}'"),
    "describe": ("describe",
                 "DESCRIBE {person}",
                 "SELECT s, p, o FROM kg WHERE s = '{person}'"),
    "ask": ("ask",
            "ASK {{ {doc} kg:mentions ?e FILTER(?e = {probe}) }}",
            f"SELECT count(*) > 0 FROM kg WHERE s = '{{doc}}' "
            f"AND p = '<{_P}mentions>' AND o = '{{probe}}'"),
    "two_hop": ("select",
                "SELECT ?doc ?kind WHERE {{ {alias} owl:sameAs ?canon . "
                "?doc kg:mentions ?canon . ?doc kg:hasMedia ?m . "
                "?m kg:mediaKind ?kind }}",
                f"""SELECT m.s, k.o FROM kg a, kg m, kg h, kg k
                    WHERE a.s = '{{alias}}' AND a.p = '{_OWL_SAMEAS}'
                      AND m.p = '<{_P}mentions>' AND m.o = a.o
                      AND h.p = '<{_P}hasMedia>' AND h.s = m.s
                      AND k.p = '<{_P}mediaKind>' AND k.s = h.o"""),
    "star_filter": ("select",
                    "SELECT ?doc ?media ?kind WHERE {{ ?doc kg:mentions "
                    "?person ; kg:hasMedia ?media . ?media kg:mediaKind "
                    "?kind . FILTER(?person = {person} && ?kind != \"image\") }}",
                    f"""SELECT m.s, h.o, k.o FROM kg m, kg h, kg k
                        WHERE m.p = '<{_P}mentions>' AND m.o = '{{person}}'
                          AND h.p = '<{_P}hasMedia>' AND h.s = m.s
                          AND k.p = '<{_P}mediaKind>' AND k.s = h.o
                          AND k.o <> '"image"'"""),
    "group_having": ("select",
                     "SELECT ?kind (COUNT(*) AS ?n_media) "
                     "(COUNT(DISTINCT ?doc) AS ?n_docs) WHERE {{ "
                     "?doc kg:hasMedia ?media . ?media kg:mediaKind ?kind . "
                     "}} GROUP BY ?kind "
                     "HAVING (COUNT(DISTINCT ?doc) >= 2 && COUNT(*) > 2)",
                     f"""SELECT k.o, count(*), count(DISTINCT h.s)
                         FROM kg h, kg k
                         WHERE h.p = '<{_P}hasMedia>'
                           AND k.p = '<{_P}mediaKind>' AND k.s = h.o
                         GROUP BY k.o
                         HAVING count(DISTINCT h.s) >= 2 AND count(*) > 2"""),
    "not_exists": ("select",
                   "SELECT DISTINCT ?doc ?kind WHERE {{ ?doc kg:hasMedia "
                   "?media . ?media kg:mediaKind ?kind . "
                   "VALUES ?kind {{ \"audio\" \"image\" }} "
                   "FILTER NOT EXISTS {{ ?doc kg:mentions ?p }} }}",
                   f"""SELECT DISTINCT h.s, k.o FROM kg h, kg k
                       WHERE h.p = '<{_P}hasMedia>'
                         AND k.p = '<{_P}mediaKind>' AND k.s = h.o
                         AND k.o IN ('"audio"', '"image"')
                         AND NOT EXISTS (SELECT 1 FROM kg m
                             WHERE m.s = h.s AND m.p = '<{_P}mentions>')"""),
    "sameas_path": ("select",
                    "SELECT ?canon WHERE {{ {alias} owl:sameAs+ ?canon }}",
                    f"""WITH RECURSIVE r(n) AS (
                          SELECT o FROM kg WHERE s = '{{alias}}'
                            AND p = '{_OWL_SAMEAS}'
                          UNION
                          SELECT kg.o FROM r JOIN kg ON kg.s = r.n
                            AND kg.p = '{_OWL_SAMEAS}')
                        SELECT DISTINCT n FROM r"""),
    "optional_bind": ("select",
                      "SELECT ?doc ?media ?len WHERE {{ ?doc kg:mentions "
                      "{person} OPTIONAL {{ ?doc kg:hasMedia ?media }} "
                      "BIND(STRLEN(STR(?doc)) AS ?len) }}",
                      f"""SELECT m.s, h.o, '"' || (length(m.s) - 2)
                            || '"^^<http://www.w3.org/2001/XMLSchema#integer>'
                          FROM kg m LEFT JOIN kg h
                            ON h.s = m.s AND h.p = '<{_P}hasMedia>'
                          WHERE m.p = '<{_P}mentions>' AND m.o = '{{person}}'"""),
}

# the client cycles through the templates in this fixed order: the mix is
# the same for every seed, only the bound subjects change
CYCLE = tuple(TEMPLATES)


def _corrupt_parquet(directory: str) -> None:
    """Alter the object of the first triple in the first non-empty file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for path in sorted(glob.glob(directory + "/**/*.parquet", recursive=True)):
        t = pq.read_table(path)
        if t.num_rows:
            o = t.column("o").to_pylist()
            o[0] += "-corrupt"
            i = t.schema.get_field_index("o")
            pq.write_table(t.set_column(i, "o", pa.array(o, pa.string())), path)
            return


def _bind(params: dict) -> dict:
    def person(x):
        return f"<http://kg.ex/ent/person/{x}>"

    return {"doc": f"<http://kg.ex/doc/{params['doc']}>",
            "person": person(params["person"]),
            "alias": person(params["alias"]), "probe": person(params["probe"])}


class KGServe(Workload):
    name = "kg_serve"
    N_DOCS = 2000
    N_PARAMS = 1000

    def _generate(self) -> None:
        self.docs = gen.documents(self.data, self.seed, self.N_DOCS)

    def build(self) -> None:
        t = self.tracer
        kg_dir = os.path.join(self.data, "kg")
        self.table = os.path.join(self.data, "kg_table")
        with t.span("build") as root:
            with t.span("run_pipeline"):
                kg = run_pipeline(
                    self.spark, kg_dir, KGPipelineConfig(),
                    documents=self.spark.read.parquet(self.docs),
                    input_tag=f"perfbench-{self.seed}-{self.N_DOCS}")
            with t.span("write_triples_table"):
                write_triples_table(kg.select("s", "p", "o", "g"), self.table)
            self.triples = read_triples_table(
                self.spark, self.table, fmt="parquet").select("s", "p", "o")
            with t.span("predicate_stats"):
                self.stats = predicate_stats(self.triples)
        self.build_span = root and root["id"]
        triples_dir = os.path.join(kg_dir, "stages", "triples")
        if self.corrupting:
            _corrupt_parquet(triples_dir)
        self.build_checks.append(oracle.kg_actual(self.con, triples_dir)
                                 == oracle.kg_expected(self.con, self.docs))
        with open(os.path.join(kg_dir, "manifest.jsonl")) as f:
            self.manifest = [json.loads(line) for line in f]
        self.table_files = len(glob.glob(self.table + "/**/*.parquet",
                                         recursive=True))
        self.con.execute(f"CREATE OR REPLACE VIEW kg AS SELECT s, p, o FROM "
                         f"read_parquet('{self.table}/**/*.parquet')")
        self.params = [_bind(p) for p in gen.query_params(
            self.seed, self.N_PARAMS, self.N_DOCS)]

    def cycle(self) -> int:
        return len(CYCLE)

    def op(self, i: int) -> dict:
        name = CYCLE[i % len(CYCLE)]
        call, text, _ = TEMPLATES[name]
        params = self.params[i % len(self.params)]
        query = _PREFIX + text.format(**params)
        t = self.tracer
        with t.span("op", template=name) as root:
            with t.span("sparql_" + call):
                if call == "ask":
                    res = sparql_ask(self.triples, query, stats=self.stats)
                elif call == "describe":
                    res = sparql_describe(self.triples, query, stats=self.stats)
                else:
                    res = sparql_select(self.triples, query, stats=self.stats)
            with t.span("fetch"):
                rows = ([(res,)] if call == "ask"
                        else [tuple(r) for r in res.collect()])
        return {"template": name, "params": params, "result": rows,
                "span": root and root["id"]}

    def verify(self, out: dict) -> bool:
        sql = TEMPLATES[out["template"]][2].format(**out["params"])
        out["rows"] = len(out["result"])
        return (oracle.digest_rows(self.con, out["result"])
                == oracle.digest_rows(self.con, self.con.sql(sql).fetchall()))

    def corrupt(self, out: dict) -> None:
        rows = out["result"]
        if not rows:
            rows.append(("corrupt",))
        rows[0] = (str(rows[0][0]) + "-corrupt",) + tuple(rows[0][1:])

    def user_metrics(self, outs: List[dict]) -> Dict[str, tuple]:
        ms = sorted(1000 * o["seconds"] for o in outs)
        return {"query_p50_ms": (_median(ms), "ms"),
                # nearest rank; a run holds too few queries for a steady tail
                "query_p90_ms": (ms[-(-9 * len(ms) // 10) - 1], "ms"),
                "queries_per_s": (1000 * len(ms) / sum(ms), "1/s")}

    def layers(self, outs: List[dict]) -> Dict[str, float]:
        build = {s["name"]: s for s in self.tracer.spans
                 if s["parent"] == self.build_span}
        pipeline_s = _dur(build["run_pipeline"])
        build_s = sum(_dur(s) for s in build.values())
        m: Dict[str, float] = {}
        for stage in KG_STAGES:
            rec = next(r for r in self.manifest if r.get("stage") == stage)
            m[f"kg.{stage}.s"] = rec["elapsed_sec"]
            m[f"kg.{stage}.share"] = rec["elapsed_sec"] / pipeline_s
            m[f"kg.{stage}.rows"] = rec["rows"]
        m["kg.canonicalize.driver_branch"] = float(any(
            r.get("stage") == "cc_driver_union_find" for r in self.manifest))
        m["kg.pipeline.spark_jobs"] = build["run_pipeline"]["jobs"]
        m["kg.table.write_s"] = _dur(build["write_triples_table"])
        m["kg.table.write_share"] = m["kg.table.write_s"] / build_s
        m["kg.table.files"] = self.table_files
        m["kg.query.predicate_stats_s"] = _dur(build["predicate_stats"])
        m["kg.query.predicate_stats_share"] = (m["kg.query.predicate_stats_s"]
                                               / build_s)
        # an operation's two child spans: the sparql_* call, then the fetch
        kids: Dict[int, List[dict]] = {}
        for s in self.tracer.spans:
            kids.setdefault(s["parent"], []).append(s)
        op_ms = {}
        for name in TEMPLATES:
            runs = [o for o in outs if o["template"] == name]
            pairs = [sorted(kids[o["span"]], key=lambda s: s["start"])
                     for o in runs]
            lower = _median(1000 * _dur(c) for c, _ in pairs)
            fetch = _median(1000 * _dur(f) for _, f in pairs)
            m[f"sparql.lower_ms.{name}"] = lower
            m[f"sparql.exec_ms.{name}"] = fetch
            m[f"sparql.lower_share.{name}"] = lower / (lower + fetch)
            m[f"sparql.spark_jobs.{name}"] = _median(c["jobs"] + f["jobs"]
                                                     for c, f in pairs)
            m[f"sparql.rows.{name}"] = _median(o["rows"] for o in runs)
            op_ms[name] = _median(1000 * o["seconds"] for o in runs)
        for name, ms in op_ms.items():
            m[f"sparql.cycle_share.{name}"] = ms / sum(op_ms.values())
        return m


WORKLOADS = {w.name: w for w in (RMLConvert, KGServe)}
