"""Seeded input generators, one per workload.

Every generator writes plain files (parquet, CSV, JSON, XML) under a
directory and returns their paths plus whatever the output check needs.
The engine only ever sees the files; the same ``seed`` gives byte-identical
inputs, and the input *sizes* do not depend on the seed, so the figures of
runs with different seeds are comparable.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Dict, List

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# TPC-H-shaped parquet tables (shapes as scripts/gen_sf.py and TESTDATA.md)
# ---------------------------------------------------------------------------

VOCAB = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector join shuffle cache plan"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["O", "F", "P"]
LANGS = ["en", "zh", "es", "fr", "de"]


def _write(out: str, name: str, cols: dict) -> str:
    path = os.path.join(out, f"{name}.parquet")
    pq.write_table(pa.table(cols), path)
    return path


def tpch_tables(out: str, seed: int, n_cust: int) -> Dict[str, str]:
    """customer / orders / documents at a fixed row ratio (1 : 10 : 1/3),
    keyed and valued like the tables of TESTDATA.md."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_ord, n_doc = 10 * n_cust, max(100, n_cust // 3)
    paths = {}
    paths["customer"] = _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    day = np.timedelta64(86_400_000_000, "us")
    base95 = np.datetime64("1995-01-01T00:00:00", "us")
    paths["orders"] = _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [STATUSES[i] for i in
                          rng.choice(3, n_ord, p=[0.49, 0.49, 0.02])],
        "o_totalprice": np.round(rng.uniform(900, 450_000, n_ord), 2),
        "o_orderdate": pa.array(base95 + rng.integers(0, 2404, n_ord) * day,
                                pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    wc = rng.integers(8, 93, n_doc)
    words = rng.integers(0, len(VOCAB), int(wc.sum()))
    bounds = np.concatenate([[0], np.cumsum(wc)])
    texts = [" ".join(VOCAB[w] for w in words[bounds[i]:bounds[i + 1]])
             for i in range(n_doc)]
    paths["documents"] = _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(
            5, n_doc, p=[0.42, 0.15, 0.15, 0.14, 0.14])],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    return paths


# ---------------------------------------------------------------------------
# small CSV / JSON / XML sources and the TriplesMaps over them
# ---------------------------------------------------------------------------

RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
XSD_INT = "<http://www.w3.org/2001/XMLSchema#integer>"
CATEGORIES = ["alpha", "beta", "gamma", "delta", "omega"]


@dataclass
class SmallSources:
    maps: str               # Turtle text of one TriplesMap per source
    expected: str           # path: the N-Quads lines those maps must produce


def _triples_map(kind: str, i: int, source: str) -> str:
    """One TriplesMap over source ``i`` of ``kind``: a class, a plain
    literal, a template IRI object, and an xsd:integer literal."""
    ls = {
        "csv": f'[ rml:source "{source}" ; rml:referenceFormulation ql:CSV ]',
        "json": (f'[ rml:source "{source}" ; rml:referenceFormulation '
                 'ql:JSONPath ; rml:iterator "$.records[*]" ]'),
        "xml": (f'[ rml:source "{source}" ; rml:referenceFormulation '
                'ql:XPath ; rml:iterator "/records/rec" ]'),
    }[kind]
    return f"""
<#{kind.upper()}{i}> rml:logicalSource {ls} ;
  rr:subjectMap [ rr:template "http://ex.com/{kind}{i}/item/{{id}}" ;
                  rr:class ex:{kind.capitalize()}Item{i} ] ;
  rr:predicateObjectMap [ rr:predicate ex:label ;
    rr:objectMap [ rml:reference "label" ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:category ;
    rr:objectMap [ rr:template "http://ex.com/category/{{cat}}" ;
                   rr:termType rr:IRI ] ] ;
  rr:predicateObjectMap [ rr:predicate ex:qty ;
    rr:objectMap [ rml:reference "qty" ; rr:datatype xsd:integer ] ] .
"""


def small_sources(out: str, seed: int, per_kind: int,
                  rows: int) -> SmallSources:
    """``per_kind`` files of each of CSV, JSON and XML with ``rows`` records
    each, one TriplesMap per file, and the exact triples they map to."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    maps: List[str] = []
    expected: List[str] = []
    for kind in ("csv", "json", "xml"):
        for i in range(per_kind):
            ids = rng.choice(10 * rows, rows, replace=False)
            labels = [f"{kind} item {v} {VOCAB[v % len(VOCAB)]}" for v in ids]
            cats = [CATEGORIES[c] for c in rng.integers(0, 5, rows)]
            qtys = rng.integers(1, 1000, rows)
            path = os.path.join(out, f"{kind}{i}.{kind}")
            recs = list(zip(ids.tolist(), labels, cats, qtys.tolist()))
            with open(path, "w", encoding="utf-8") as f:
                if kind == "csv":
                    f.write("id,label,cat,qty\n")
                    f.writelines(f"{a},{b},{c},{d}\n" for a, b, c, d in recs)
                elif kind == "json":
                    json.dump({"records": [
                        {"id": a, "label": b, "cat": c, "qty": d}
                        for a, b, c, d in recs]}, f)
                else:
                    f.write("<records>\n")
                    f.writelines(
                        f'<rec id="{a}"><label>{b}</label><cat>{c}</cat>'
                        f"<qty>{d}</qty></rec>\n" for a, b, c, d in recs)
                    f.write("</records>\n")
            maps.append(_triples_map(kind, i, path))
            cls = f"<http://ex.com/{kind.capitalize()}Item{i}>"
            for a, b, c, d in recs:
                s = f"<http://ex.com/{kind}{i}/item/{a}>"
                expected += [
                    f"{s} {RDF_TYPE} {cls} .",
                    f'{s} <http://ex.com/label> "{b}" .',
                    f"{s} <http://ex.com/category> "
                    f"<http://ex.com/category/{c}> .",
                    f'{s} <http://ex.com/qty> "{d}"^^{XSD_INT} .',
                ]
    exp = os.path.join(out, "expected.nq")
    with open(exp, "w", encoding="utf-8") as f:
        f.write("\n".join(expected) + "\n")
    return SmallSources(maps="".join(maps), expected=exp)


# ---------------------------------------------------------------------------
# kg_serve: interleaved documents (BASELINE.json input_hint)
# ---------------------------------------------------------------------------

# the mention vocabulary of pyrml_spark/kg/datagen.py: PERSON:<P%d[_aka[2]]>
# and PLACE:L%d inside text spans, which both extractors recognize
N_PERSONS = 500
N_PLACES = 120
SPAN_SCHEMA = pa.struct([("kind", pa.string()), ("text", pa.string()),
                         ("media_ref", pa.string()), ("offset", pa.int32())])


def documents(out: str, seed: int, n_docs: int) -> str:
    """``n_docs`` interleaved text + media documents of 3..8 spans each, the
    same distribution as the engine's own generator but drawn from
    ``seed``: a parquet file of (doc_id, spans: array<struct<kind, text,
    media_ref, offset>>)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_spans = rng.integers(3, 9, n_docs)
    total = int(n_spans.sum())
    kind_sel = rng.integers(0, 5, total)
    person = rng.integers(0, N_PERSONS, total)
    alias = rng.integers(0, 6, total)
    place = rng.integers(0, N_PLACES, total)
    filler = rng.integers(0, 1000, total)
    jitter = rng.integers(0, 50, total)
    doc_ids, spans = [], []
    j = 0
    for d in range(n_docs):
        doc_id = f"doc-{d:08d}"
        row = []
        for i in range(int(n_spans[d])):
            ks = kind_sel[j]
            kind = "text" if ks < 3 else ("image" if ks == 3 else "audio")
            text = media = None
            if kind == "text":
                suffix = ("_aka", "_aka2", "", "", "", "")[alias[j]]
                text = (f"report {filler[j]} notes that PERSON:P{person[j]}"
                        f"{suffix} was seen at PLACE:L{place[j]} today")
            else:
                media = f"media://{doc_id}/{i}"
            row.append({"kind": kind, "text": text, "media_ref": media,
                        "offset": i * 64 + int(jitter[j])})
            j += 1
        doc_ids.append(doc_id)
        spans.append(row)
    path = os.path.join(out, "documents.parquet")
    pq.write_table(pa.table({
        "doc_id": pa.array(doc_ids, pa.string()),
        "spans": pa.array(spans, pa.list_(SPAN_SCHEMA))}), path)
    return path


def query_params(seed: int, n: int, n_docs: int) -> List[dict]:
    """``n`` seeded parameter sets for the SPARQL templates: a document, a
    canonical person, an alias and a probe person for ASK."""
    rng = np.random.default_rng(seed + 1)
    return [{"doc": f"doc-{int(rng.integers(0, n_docs)):08d}",
             "person": f"P{int(rng.integers(0, N_PERSONS))}",
             "alias": f"P{int(rng.integers(0, N_PERSONS))}"
                      f"{('_aka', '_aka2')[int(rng.integers(0, 2))]}",
             "probe": f"P{int(rng.integers(0, N_PERSONS))}"}
            for _ in range(n)]
