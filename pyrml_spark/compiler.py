"""MappingPlan → DataFrame[s, p, o, g] compiler.

The reference executes eagerly, row-at-a-time: per TriplesMap it loads pandas
frames, evaluates term maps over numpy rows, cross-products predicates ×
objects (pyrml_core.py:643-706), positionally zips subjects with (p,o) blocks
(pyrml_core.py:1467-1502), merges joins via pandas (pyrml_core.py:1451), and
accumulates triples into an rdflib Dataset (pyrml_mapper.py:160-194).

Here each TriplesMap compiles into a declarative DataFrame pipeline that
Catalyst optimizes end-to-end:

  source scan (all-string CSV / JSON / Parquet, column-pruned)
    → crml:condition filter (translated to Spark SQL — never eval())
    → function maps as raw columns (one ``withColumns``)
    → ONE ``selectExpr``: subject term + ``inline(array(named_struct(p, o,
      g), …))`` over all (predicate, object, graph) combinations incl.
      rr:class pairs, exploded straight into columns p, o, g
                                          [D2+D3+D4 in one shuffle-free pass]
    → per referencing-object-map: equi-join child×parent (broadcast when the
      parent is small, AQE skew-join otherwise)                        [D5/D6]
    → unionByName across TriplesMaps                                     [D7]
    → s/p/o null drop [D9] → dropDuplicates (RDF set semantics)          [D8]

Term maps compile to Spark SQL text (``terms.py``), not ``F.*`` Column
trees: on the 8-map benchmark document, building the Column trees cost
≈8,000 py4j round trips (≈1.3 s of driver time) per compile; handing each
branch's text to ``selectExpr`` costs a few per branch. Column pruning
across the mapping still happens for free: Catalyst resolves the text
against the source and prunes the scan to exactly the referenced columns
(SURVEY.md §4).
"""

from __future__ import annotations

import os
import re
from functools import reduce
from typing import Callable, Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import rdfterms as R
from .model import (
    MappingPlan,
    ReferencingObjectMap,
    SubjectMap,
    TriplesMap,
)
from .scan import parallelize_scan
from .sources import SourceLoader
from .terms import (
    NULL_STRING,
    CompileCtx,
    compile_term,
    function_raw,
    render_value,
    source_col,
    sql_ident,
    sql_lit,
    with_raws,
)

OUTPUT_SCHEMA = ["s", "p", "o", "g"]

_PAIRS_TYPE = "array<struct<p:string,o:string,g:string>>"


class CompileError(ValueError):
    pass


# ---------------------------------------------------------------------------
# crml:condition translation (never eval() — reference does raw eval at
# pyrml_core.py:1404-1405; we translate the observed pandas-expression subset
# to Spark SQL and reject anything else loudly, SURVEY.md D1)
# ---------------------------------------------------------------------------

_FORBIDDEN = re.compile(r"__|;|\beval\b|\bexec\b|\bimport\b|\blambda\b|\bos\b")

# string literals (after df[...] column refs are rewritten) — operator
# rewrites must not reach inside them ('A&B' is a value, not a conjunction)
_STR_LIT = re.compile(r"('(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\")")


def translate_condition(cond: str) -> str:
    if _FORBIDDEN.search(cond):
        raise CompileError(f"unsupported crml:condition expression: {cond!r}")
    s = re.sub(r"df\[\s*'([^']+)'\s*\]", lambda m: sql_ident(m.group(1)), cond)
    s = re.sub(r'df\[\s*"([^"]+)"\s*\]', lambda m: sql_ident(m.group(1)), s)
    s = re.sub(r"\bdf\.([A-Za-z_]\w*)", lambda m: sql_ident(m.group(1)), s)
    parts = _STR_LIT.split(s)
    for i in range(0, len(parts), 2):  # odd indexes are quoted literals
        p = parts[i].replace("&", " AND ").replace("|", " OR ")
        parts[i] = re.sub(r"~\s*", " NOT ", p)
    return "".join(parts)


# ---------------------------------------------------------------------------


def _pair(p: str, o: str, g: str) -> str:
    return f"named_struct('p', {p}, 'o', {o}, 'g', CAST({g} AS STRING))"


def _pair_array(items: List[Tuple[str, bool]]) -> str:
    """``(sql, is_array)`` items, in order, as one array<struct<p,o,g>>: a
    single pair is one element, a multi-valued object a whole array."""
    if not any(is_array for _, is_array in items):
        return f"array({', '.join(sql for sql, _ in items)})"
    return "flatten(array(" + ", ".join(
        sql if is_array else f"array({sql})" for sql, is_array in items) + "))"


def _explode(df: DataFrame, s: str, pairs: str) -> DataFrame:
    # inline() explodes the structs straight into columns p, o, g
    return df.selectExpr(f"{s} AS s", f"inline({pairs})")


Branch = Callable[[DataFrame], DataFrame]


class RMLCompiler:
    def __init__(
        self,
        spark: SparkSession,
        plan: MappingPlan,
        search_roots: Optional[List[str]] = None,
        functions=None,
        broadcast_threshold: int = 64 << 20,
        salt_joins: int = 0,
        irify: bool = False,
        infer_literal_datatypes: bool = False,
    ):
        self.spark = spark
        self.plan = plan
        self.loader = SourceLoader(spark, search_roots=search_roots)
        if functions is None:
            from .functions.registry import default_registry

            functions = default_registry()
        self.functions = functions
        self.broadcast_threshold = broadcast_threshold
        # explicit salting for pathological skew; AQE skew-join covers the
        # general case (SURVEY.md §4, north_rule skew requirement)
        self.salt_joins = salt_joins
        # PyRML.IRIFY equivalent (default False like the reference,
        # pyrml_api.py:703)
        self.irify = irify
        # PyRML.INFER_LITERAL_DATATYPES equivalent (default False,
        # pyrml_api.py:705): plain literals from natively-typed source
        # columns (JSON/parquet) get an inferred xsd datatype
        self.infer_literal_datatypes = infer_literal_datatypes
        self._sources: Dict[tuple, Tuple[DataFrame, T.StructType]] = {}
        self._schemas: Dict[tuple, T.StructType] = {}

    # -- source handling -----------------------------------------------------
    def _scan(self, ls, floor: bool) -> DataFrame:
        df = self.loader.load(ls)
        path = self.loader.scan_path(ls) if floor else None
        return parallelize_scan(self.spark, df, path) if path else df

    def _source(self, tm: TriplesMap,
                floor: bool = True) -> Tuple[DataFrame, T.StructType]:
        """The TriplesMap's logical source(s), unioned and filtered, and its
        schema — both memoized, so each schema is read once per compile.
        ``floor`` applies the scan-parallelism floor (``scan.py``): wanted
        under a term-map branch, not under a broadcast, whose rows are
        collected to the driver anyway."""
        key = (tuple(ls.cache_key() for ls in tm.sources), tm.condition)
        hit = self._sources.get(key + (floor,))
        if hit is not None:
            return hit
        if not tm.sources:
            raise CompileError(f"TriplesMap {tm.iri} has no logical source")
        df = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True),
                    [self._scan(ls, floor) for ls in tm.sources])
        if tm.condition:
            df = df.filter(translate_condition(tm.condition))
        if key not in self._schemas:
            self._schemas[key] = df.schema
        hit = self._sources[key + (floor,)] = (df, self._schemas[key])
        return hit

    def _ctx(self, schema: T.StructType, prefix: str = "") -> CompileCtx:
        return CompileCtx(
            columns=[prefix + f.name for f in schema.fields],
            base_iri=self.plan.base_iri,
            functions=self.functions,
            column_prefix=prefix,
            irify=self.irify,
            dtypes={prefix + f.name: f.dataType.simpleString()
                    for f in schema.fields},
            infer_literal_datatypes=self.infer_literal_datatypes,
        )

    def _parent_is_small(self, tm: TriplesMap) -> bool:
        total = 0
        for ls in tm.sources:
            p = ls.source
            if os.path.isfile(p):
                total += os.path.getsize(p)
            elif os.path.isdir(p):
                for root, _, files in os.walk(p):
                    total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
            else:
                return False
        return total < self.broadcast_threshold

    # -- term helpers ----------------------------------------------------------
    @staticmethod
    def _graphs(ctx: CompileCtx, graph_maps) -> List[str]:
        out = []
        for gm in graph_maps:
            tmm = gm.term_map
            if tmm.kind == "constant" and tmm.constant[0] == "iri" \
                    and tmm.constant[1] == R.RR + "defaultGraph":
                out.append(NULL_STRING)
            else:
                out.append(compile_term(ctx, tmm))
        return out

    @staticmethod
    def _effective_graphs(subject_graphs: List[str],
                          pom_graphs: List[str]) -> List[str]:
        graphs = subject_graphs + pom_graphs
        return graphs if graphs else [NULL_STRING]

    # -- per-TriplesMap compile --------------------------------------------------
    def compile_triples_map(self, tm: TriplesMap) -> List[DataFrame]:
        df, schema = self._source(tm)
        ctx = self._ctx(schema)
        # function-valued objects first: whether one is multi-valued (an
        # array, fanned out per element — D2) is read from its type
        fn_raws = {(pi, oi): function_raw(ctx, otm.function)
                   for pi, pom in enumerate(tm.poms)
                   for oi, otm in enumerate(pom.objects)
                   if otm.kind == "function"}
        proj = with_raws(ctx, df)
        multi = set()
        if fn_raws:
            types = proj.schema
            multi = {k for k, name in fn_raws.items()
                     if isinstance(types[name].dataType, T.ArrayType)}
        n_typed = len(ctx.raws)
        branches: List[Branch] = []
        for sm in tm.subject_maps:
            branches.extend(
                self._compile_for_subject(tm, ctx, sm, fn_raws, multi))
        if len(ctx.raws) > n_typed:  # more function maps in other terms
            proj = with_raws(ctx, df)
        return [branch(proj) for branch in branches]

    def _compile_for_subject(self, tm: TriplesMap, ctx: CompileCtx,
                             sm: SubjectMap, fn_raws: dict,
                             multi: set) -> List[Branch]:
        """Every term's SQL for one subject map; the returned branches
        build their DataFrames once the raw columns are known."""
        s = compile_term(ctx, sm.term_map)
        subject_graphs = self._graphs(ctx, sm.graph_maps)
        branches: List[Branch] = []

        # ---- branch 1: plain POMs + rr:class, one scan, one explode ----
        pairs = self._plain_pairs(tm, ctx, sm, subject_graphs, fn_raws, multi)
        if pairs is not None:
            branches.append(lambda proj, pairs=pairs: _explode(proj, s, pairs))

        # ---- referencing object maps: one join per ROM ----
        for pom in tm.poms:
            if not pom.ref_objects:
                continue
            graphs = self._effective_graphs(
                subject_graphs, self._graphs(ctx, pom.graph_maps))
            preds = [compile_term(ctx, ptm) for ptm in pom.predicates]
            for rom in pom.ref_objects:
                if rom.joins:
                    branches.append(
                        lambda proj, rom=rom, preds=preds, graphs=graphs:
                        self._ref_object_df(proj, ctx, s, preds, graphs, rom))
                    continue
                o = self._same_source_parent_term(tm, ctx, rom)
                pairs = _pair_array([(_pair(p, o, g), False)
                                     for p in preds for g in graphs])
                branches.append(
                    lambda proj, pairs=pairs: _explode(proj, s, pairs))
        return branches

    # .. plain pairs .............................................................
    def _plain_pairs(
        self,
        tm: TriplesMap,
        ctx: CompileCtx,
        sm: SubjectMap,
        subject_graphs: List[str],
        fn_raws: dict,
        multi: set,
    ) -> Optional[str]:
        items: List[Tuple[str, bool]] = []

        # rr:class → (rdf:type, class) pairs in the subject graphs (D4)
        rdf_type = sql_lit(f"<{R.RDF_TYPE}>")
        for cls in sm.classes:
            for g in self._effective_graphs(subject_graphs, []):
                items.append((_pair(rdf_type, sql_lit(f"<{cls}>"), g), False))

        for pi, pom in enumerate(tm.poms):
            if not pom.objects:
                continue
            graphs = self._effective_graphs(
                subject_graphs, self._graphs(ctx, pom.graph_maps))
            preds = [compile_term(ctx, ptm) for ptm in pom.predicates]
            for oi, otm in enumerate(pom.objects):
                key = (pi, oi)
                if key in multi:
                    # multi-valued fan-out: one (p,o,g) per element.
                    # NULL input ⇒ NULL element array — flatten() of an
                    # array containing a NULL is NULL, which would drop
                    # EVERY pair for the row (incl. rr:class and other
                    # POMs); coalesce to empty so only the affected
                    # object map contributes nothing (the reference
                    # drops only that triple)
                    o = render_value(ctx, otm, "__elem")
                    raw = sql_ident(fn_raws[key])
                    items.extend(
                        (f"coalesce(transform({raw}, __elem -> "
                         f"{_pair(p, o, g)}), CAST(array() AS {_PAIRS_TYPE}))",
                         True)
                        for p in preds for g in graphs)
                    continue
                if key in fn_raws:
                    o = render_value(ctx, otm, sql_ident(fn_raws[key]))
                else:
                    o = compile_term(ctx, otm)
                items.extend((_pair(p, o, g), False)
                             for p in preds for g in graphs)
        return _pair_array(items) if items else None

    # .. referencing object maps .................................................
    def _same_source_parent_term(self, tm: TriplesMap, ctx: CompileCtx,
                                 rom: ReferencingObjectMap) -> str:
        # join-less ROM (D6): well-defined only when child and parent share
        # the logical source — apply the parent subject expr to child rows
        # (reference same-source path at pyrml_core.py:1583-1585)
        parent_tm = self.plan.by_iri(rom.parent_triples_map)
        child_keys = {ls.cache_key() for ls in tm.sources}
        parent_keys = {ls.cache_key() for ls in parent_tm.sources}
        if child_keys != parent_keys:
            raise NotImplementedError(
                "join-less referencing object map across different sources is "
                "a positional-concat quirk in the reference "
                "(pyrml_core.py:1452-1453) — unsupported by design"
            )
        return compile_term(ctx, parent_tm.subject_maps[0].term_map)

    def _ref_object_df(
        self,
        df: DataFrame,
        ctx: CompileCtx,
        s: str,
        preds: List[str],
        graphs: List[str],
        rom: ReferencingObjectMap,
    ) -> DataFrame:
        parent_tm = self.plan.by_iri(rom.parent_triples_map)
        parent_small = self._parent_is_small(parent_tm)
        parent_df, parent_schema = self._source(parent_tm,
                                                floor=not parent_small)
        prefix = "__p__"
        parent_ctx = self._ctx(parent_schema, prefix)
        o = compile_term(parent_ctx, parent_tm.subject_maps[0].term_map)
        right = with_raws(parent_ctx, parent_df.selectExpr(
            *[f"{sql_ident(f.name)} AS {sql_ident(prefix + f.name)}"
              for f in parent_schema.fields]))

        conds = []
        for j in rom.joins:
            left_key = source_col(ctx, j.child)
            conds.append(f"{left_key} <=> {source_col(parent_ctx, j.parent)} "
                         f"AND {left_key} IS NOT NULL")
        if parent_small:
            right = F.broadcast(right)
        elif self.salt_joins > 1:
            # celebrity-key salting: child rows spread over salt buckets
            # (deterministic hash, resumable), parent replicated per bucket
            salt = self.salt_joins
            cols = ", ".join(sql_ident(c) for c in ctx.columns)
            df = df.selectExpr(
                "*", f"CAST(pmod(xxhash64({cols}), {salt}) AS INT) AS __salt_l")
            right = right.selectExpr(
                "*", f"explode(array({', '.join(map(str, range(salt)))})) "
                "AS __salt_r")
            conds.append("__salt_l = __salt_r")
        joined = df.join(right, F.expr(" AND ".join(conds)), "inner")
        pairs = _pair_array([(_pair(p, o, g), False)
                             for p in preds for g in graphs])
        return _explode(joined, s, pairs)

    # -- whole plan -------------------------------------------------------------
    def compile(self, deduplicate: bool = True) -> DataFrame:
        branches: List[DataFrame] = []
        for tm in self.plan.triples_maps:
            branches.extend(self.compile_triples_map(tm))
        if not branches:
            schema = T.StructType(
                [T.StructField(c, T.StringType()) for c in OUTPUT_SCHEMA]
            )
            return self.spark.createDataFrame([], schema)
        out = reduce(DataFrame.union, branches)  # all are (s, p, o, g)
        out = out.na.drop(subset=["s", "p", "o"])  # D9
        if deduplicate:
            out = out.dropDuplicates(OUTPUT_SCHEMA)  # D8 set semantics
        return out


def convert(
    spark: SparkSession,
    mapping_file: str,
    search_roots: Optional[List[str]] = None,
    template_vars: Optional[dict] = None,
    deduplicate: bool = True,
    functions=None,
    infer_literal_datatypes: bool = False,
) -> DataFrame:
    """Public API: mapping document → DataFrame[s,p,o,g].

    Mirrors ``PyRML.get_mapper().convert(rml_file)`` (README.md:28-47 of the
    reference) but returns a lazy, distributed DataFrame instead of an
    eager rdflib graph.
    """
    from .parse_mapping import parse_mapping_file

    plan = parse_mapping_file(mapping_file, template_vars=template_vars)
    roots = list(search_roots or [])
    roots.append(os.path.dirname(os.path.abspath(mapping_file)))
    # reference resolves paths against the process CWD; mappings in the
    # reference repo use paths like "./examples/artists/Artist.csv"
    roots.append(os.getcwd())
    compiler = RMLCompiler(spark, plan, search_roots=roots, functions=functions,
                           infer_literal_datatypes=infer_literal_datatypes)
    return compiler.compile(deduplicate=deduplicate)
