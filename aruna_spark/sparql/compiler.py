"""SPARQL algebra → DataFrame compiler.

Compiles the AST of :mod:`aruna_spark.sparql.algebra` into a DataFrame plan
over the ``triples`` table. One solution variable = one term-struct column
(see :mod:`aruna_spark.sparql.terms`); BGP joins are struct equi-joins, so
the whole plan stays inside Catalyst/whole-stage codegen — no Python UDFs
anywhere on the query path.

Semantics follow what the reference accepts and evaluates
(``operations/src/metadata/api.rs:1998-2090`` accepted algebra; evaluation
``operations/src/metadata/handle.rs:4931-5012``). Known MVP deviations,
each documented at its site: OPTIONAL-under-OPTIONAL with null join keys
uses null-safe equality (SPARQL compatibility would leave unbound vars
free); MINUS ignores the no-shared-domain-vars corner exactly like a
left_anti on shared vars.

Scale notes: BGP self-joins are equi-joins on struct keys — Catalyst
chooses broadcast vs sort-merge per side size, AQE re-plans at runtime.
Property-path closures iterate delta-joins with ``localCheckpoint`` to cut
lineage; each round's new-pair count is observed on its checkpoint job
(``DataFrame.observe``), so the loop stops on an empty frontier without a
probe job, and iterations are bounded (default 25 ≈ graph diameter cap).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from aruna_spark.ops.mat import DISK_ONLY

from aruna_spark.sparql import algebra as A
from aruna_spark.sparql.terms import (
    TERM_SCHEMA,
    XSD_BOOLEAN,
    XSD_DOUBLE,
    XSD_INTEGER,
    XSD_STRING,
    datetime_value,
    effective_boolean_value,
    iri_term,
    literal_term,
    node_term,
    null_term,
    numeric_value,
    sort_key_columns,
    term,
)


class SparqlCompileError(ValueError):
    pass


MAX_PATH_ITERATIONS = 25


# ---------------------------------------------------------------- results
@dataclass
class Rel:
    """A compiled pattern: DataFrame + which columns are term structs.

    ``native`` holds variables whose column is a plain Spark value (only
    produced by aggregates); everything else is a term struct.
    """

    df: DataFrame
    variables: frozenset[str]
    native: frozenset[str] = frozenset()


# ------------------------------------------------------------ expressions
@dataclass
class CE:
    """Compiled expression: a Column plus its value kind."""

    col: Column
    kind: str  # 'term' | 'bool' | 'num' | 'str'

    def to_bool(self) -> Column:
        if self.kind == "bool":
            return self.col
        if self.kind == "num":
            return self.col != 0.0
        if self.kind == "str":
            return F.length(self.col) > 0
        return effective_boolean_value(self.col)

    def to_num(self) -> Column:
        if self.kind == "num":
            return self.col
        if self.kind == "bool":
            return self.col.cast("double")
        if self.kind == "str":
            # try_cast: non-numeric strings are a type error (null),
            # not an ANSI-mode NumberFormatException
            return self.col.try_cast("double")
        return numeric_value(self.col)

    def to_str(self) -> Column:
        """STR() semantics: lexical form for literals, IRI string for IRIs."""
        if self.kind == "str":
            return self.col
        if self.kind == "num":
            return self.col.cast("string")
        if self.kind == "bool":
            return F.when(self.col, "true").otherwise("false")
        return self.col["value"]

    def to_term(self) -> Column:
        if self.kind == "term":
            return self.col
        if self.kind == "num":
            return literal_term(self.col.cast("string"), F.lit(XSD_DOUBLE))
        if self.kind == "bool":
            return literal_term(
                F.when(self.col, "true").otherwise("false"), F.lit(XSD_BOOLEAN)
            )
        return literal_term(self.col)


def _term_literal_col(t: A.Term) -> Column:
    """Constant term → struct Column."""
    if isinstance(t, A.Iri):
        return iri_term(F.lit(t.value))
    if isinstance(t, A.BlankNode):
        return term(F.lit("bnode"), F.lit("_:" + t.label))
    if isinstance(t, A.Literal):
        return literal_term(
            F.lit(t.value),
            F.lit(t.datatype) if t.datatype else None,
            F.lit(t.lang) if t.lang else None,
        )
    raise SparqlCompileError(f"not a constant term: {t}")


def _term_eq(a: CE, b: CE) -> Column:
    """SPARQL '=' : numeric by value, else term equality."""
    if a.kind != "term" or b.kind != "term":
        return a.to_num() == b.to_num() if ("num" in (a.kind, b.kind)) else a.to_str() == b.to_str()
    an, bn = numeric_value(a.col), numeric_value(b.col)
    term_equal = (
        (a.col["kind"] == b.col["kind"])
        & (a.col["value"] == b.col["value"])
        & a.col["datatype"].eqNullSafe(b.col["datatype"])
        & a.col["lang"].eqNullSafe(b.col["lang"])
    )
    return F.when(an.isNotNull() & bn.isNotNull(), an == bn).otherwise(term_equal)


def _term_cmp(a: CE, b: CE, op: str) -> Column:
    """SPARQL ordering comparisons: numeric, else datetime, else string."""
    ops = {
        "<": lambda x, y: x < y,
        ">": lambda x, y: x > y,
        "<=": lambda x, y: x <= y,
        ">=": lambda x, y: x >= y,
    }
    f = ops[op]
    if a.kind != "term" or b.kind != "term":
        return f(a.to_num(), b.to_num()) if ("num" in (a.kind, b.kind)) else f(a.to_str(), b.to_str())
    an, bn = numeric_value(a.col), numeric_value(b.col)
    ad, bd = datetime_value(a.col), datetime_value(b.col)
    return (
        F.when(an.isNotNull() & bn.isNotNull(), f(an, bn))
        .when(ad.isNotNull() & bd.isNotNull(), f(ad, bd))
        .otherwise(f(a.col["value"], b.col["value"]))
    )


FTS_NS = "urn:craqle:fts:"  # pre-declared fts: prefix (handle.rs:98-103)


class Compiler:
    def __init__(
        self,
        spark: SparkSession,
        triples: DataFrame,
        fts_resolver=None,
    ):
        self.spark = spark
        self.triples = triples
        # callable(query: str) -> DataFrame(subject STRING, score_q LONG);
        # resolves fts:match magic predicates (SURVEY §2.8: FTS is exposed
        # INSIDE SPARQL through the urn:craqle:fts: namespace)
        self.fts_resolver = fts_resolver

    # ---------------------------------------------------------------- fts
    @staticmethod
    def _is_fts(tp: A.TriplePattern) -> bool:
        return isinstance(tp.p, A.Iri) and tp.p.value.startswith(FTS_NS)

    def _fts_patterns(self, patterns: list[A.TriplePattern]) -> list[Rel]:
        """fts:match / fts:score magic predicates → scored-subquery Rels.

        ``?s fts:match "query"`` binds ?s to matching subjects;
        ``?s fts:score ?v`` (same BGP) additionally binds the quantized
        BM25 score. The scored relation then joins the rest of the BGP on
        the shared subject variable like any other pattern.
        """
        if self.fts_resolver is None:
            raise SparqlCompileError("no FTS resolver configured for fts:")
        matches: dict[str, str] = {}
        scores: dict[str, str] = {}
        for tp in patterns:
            if not isinstance(tp.s, A.Var):
                raise SparqlCompileError("fts: subject must be a variable")
            kind = tp.p.value[len(FTS_NS):]
            if kind == "match":
                if not isinstance(tp.o, A.Literal):
                    raise SparqlCompileError("fts:match needs a literal query")
                matches[tp.s.name] = tp.o.value
            elif kind == "score":
                if not isinstance(tp.o, A.Var):
                    raise SparqlCompileError("fts:score needs a variable")
                scores[tp.s.name] = tp.o.name
            else:
                raise SparqlCompileError(f"unknown fts: predicate {kind}")
        missing = set(scores) - set(matches)
        if missing:
            raise SparqlCompileError(
                f"fts:score without fts:match for ?{missing.pop()}"
            )
        rels = []
        for svar, query in matches.items():
            scored = self.fts_resolver(query)
            cols = [node_term(F.col("subject")).alias(svar)]
            variables, native = {svar}, set()
            if svar in scores:
                v = scores[svar]
                cols.append(F.col("score_q").alias(v))
                variables.add(v)
                native.add(v)
            rels.append(
                Rel(scored.select(*cols), frozenset(variables), frozenset(native))
            )
        return rels

    # ------------------------------------------------------------ entry
    def compile_select(self, q: A.SelectQuery) -> DataFrame:
        rel = self.compile_pattern(q.pattern, graph=None)

        # GROUP BY / implicit grouping: pull aggregate calls out of the
        # projection/HAVING/ORDER BY, compute them in one groupBy.agg.
        agg_specs: list[tuple[str, A.ExFunc]] = []

        def strip_aggs(e):
            if isinstance(e, A.ExFunc) and e.name in (
                "COUNT", "SUM", "AVG", "MIN", "MAX", "GROUP_CONCAT", "SAMPLE",
            ):
                name = f"__agg{len(agg_specs)}"
                agg_specs.append((name, e))
                return A.ExVar(name)
            if isinstance(e, A.ExOp):
                return A.ExOp(e.op, tuple(strip_aggs(a) for a in e.args))
            if isinstance(e, A.ExFunc):
                return A.ExFunc(e.name, tuple(strip_aggs(a) for a in e.args),
                                e.distinct, e.separator)
            return e

        projection = q.projection
        if projection is not None:
            projection = tuple(
                (v, strip_aggs(e) if e is not None else None) for v, e in projection
            )
        having = strip_aggs(q.having) if q.having is not None else None
        order_by = tuple(
            A.OrderCond(strip_aggs(c.expr), c.ascending) for c in q.order_by
        )

        if q.group_by or agg_specs:
            rel = self._compile_group(rel, q.group_by, agg_specs)
            if having is not None:
                ce = self._expr(having, rel)
                rel = Rel(rel.df.filter(ce.to_bool()), rel.variables, rel.native)

        # SELECT expressions → Extend on top
        out_vars: list[str] = []
        if projection is None:
            out_vars = sorted(rel.variables)
        else:
            for v, e in projection:
                if e is not None:
                    ce = self._expr(e, rel)
                    if ce.kind == "term":
                        rel = Rel(rel.df.withColumn(v, ce.col),
                                  rel.variables | {v}, rel.native)
                    else:
                        rel = Rel(rel.df.withColumn(v, ce.col),
                                  rel.variables | {v}, rel.native | {v})
                elif v not in rel.variables:
                    rel = Rel(rel.df.withColumn(v, null_term()),
                              rel.variables | {v}, rel.native)
                out_vars.append(v)

        def sort_keys(target: Rel) -> list[Column]:
            keys: list[Column] = []
            for cond in order_by:
                ce = self._expr(cond.expr, target)
                cols = sort_key_columns(ce.col) if ce.kind == "term" else [ce.col]
                keys.extend([c.asc() if cond.ascending else c.desc() for c in cols])
            return keys

        if q.distinct or q.reduced:
            # Distinct applies to the projection; sort AFTER dedup so a
            # following LIMIT cuts the ordered stream (dropDuplicates does
            # not preserve order). Requires order keys over projected vars.
            df = rel.df.select(*out_vars).dropDuplicates()
            if order_by:
                proj = Rel(df, frozenset(out_vars) & rel.variables,
                           rel.native & frozenset(out_vars))
                df = df.orderBy(*sort_keys(proj))
        else:
            df = rel.df
            # ORDER BY before projection (may reference non-projected vars)
            if order_by:
                df = df.orderBy(*sort_keys(rel))
            df = df.select(*out_vars)
        if q.offset:
            df = df.offset(q.offset)
        if q.limit is not None:
            df = df.limit(q.limit)
        return df

    def compile_ask(self, q: A.AskQuery) -> DataFrame:
        rel = self.compile_pattern(q.pattern, graph=None)
        return rel.df.limit(1).agg((F.count(F.lit(1)) > 0).alias("ask"))

    # ---------------------------------------------------------- patterns
    def _unit(self) -> Rel:
        return Rel(self.spark.range(1).select(), frozenset())

    def compile_pattern(self, p, graph) -> Rel:
        if isinstance(p, A.Bgp):
            if not p.patterns:
                return self._unit()
            fts, regular = [], []
            for tp in p.patterns:
                (fts if self._is_fts(tp) else regular).append(tp)
            rels, leftovers = self._star_rels(regular, graph)
            rels.extend(self._triple_pattern(tp, graph) for tp in leftovers)
            if fts:
                rels.extend(self._fts_patterns(fts))
            return reduce(self._join, rels)
        if isinstance(p, A.Join):
            return self._join(self.compile_pattern(p.left, graph),
                              self.compile_pattern(p.right, graph))
        if isinstance(p, A.LeftJoin):
            return self._left_join(self.compile_pattern(p.left, graph),
                                   self.compile_pattern(p.right, graph), p.expr)
        if isinstance(p, A.Filter):
            return self._filter(p, graph)
        if isinstance(p, A.Union):
            return self._union(self.compile_pattern(p.left, graph),
                               self.compile_pattern(p.right, graph))
        if isinstance(p, A.Minus):
            left = self.compile_pattern(p.left, graph)
            right = self.compile_pattern(p.right, graph)
            shared = sorted(left.variables & right.variables)
            if not shared:
                return left  # MINUS with disjoint domains removes nothing
            cond = reduce(
                lambda a, b: a & b,
                [left.df[v].eqNullSafe(right.df[v]) for v in shared],
            )
            return Rel(left.df.join(right.df.select(*shared), cond, "left_anti"),
                       left.variables, left.native)
        if isinstance(p, A.Extend):
            rel = self.compile_pattern(p.pattern, graph)
            ce = self._expr(p.expr, rel)
            return Rel(rel.df.withColumn(p.var, ce.to_term()),
                       rel.variables | {p.var}, rel.native)
        if isinstance(p, A.Values):
            return self._values(p)
        if isinstance(p, A.GraphPattern):
            return self.compile_pattern(p.pattern, p.graph)
        if isinstance(p, A.Group):
            raise SparqlCompileError("nested Group is handled at query level")
        if isinstance(p, A.SubSelect):
            df = self.compile_select(p.query)
            return Rel(df, frozenset(df.columns))
        if isinstance(p, A.Lateral):
            return self._lateral(p, graph)
        raise SparqlCompileError(f"unsupported pattern {type(p).__name__}")

    def _lateral(self, p: A.Lateral, graph) -> Rel:
        """LATERAL (api.rs:2044): right evaluated per left solution.

        The correlated-subselect-with-LIMIT shape — ``LATERAL { SELECT …
        ORDER BY … LIMIT k }`` — compiles to a window: rank the inner
        relation per correlation key (the variables shared with the
        left) and keep rank ≤ k, then equi-join. Per-key limiting is
        exactly what per-left-row LIMIT means when the correlation flows
        through shared variables; a window + join keeps it one shuffle
        instead of a per-row re-execution. Other shapes degenerate to a
        compatible join (equivalent when no inner LIMIT/OFFSET exists).
        """
        from pyspark.sql import Window

        left = self.compile_pattern(p.left, graph)
        right = p.right
        if isinstance(right, A.SubSelect) and right.query.limit is not None:
            q = right.query
            inner = self.compile_pattern(q.pattern, graph)
            shared = sorted(left.variables & inner.variables)
            if not shared:
                raise SparqlCompileError(
                    "LATERAL subselect must share variables with the left"
                )
            keys: list = []
            for cond in q.order_by:
                ce = self._expr(cond.expr, inner)
                cols = (
                    sort_key_columns(ce.col) if ce.kind == "term" else [ce.col]
                )
                keys.extend(
                    [c.asc() if cond.ascending else c.desc() for c in cols]
                )
            w = Window.partitionBy(*shared).orderBy(
                *(keys or [F.lit(1)])
            )
            df = (
                inner.df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= q.limit)
                .drop("__rn")
            )
            out_vars = (
                [v for v, _ in q.projection]
                if q.projection is not None
                else sorted(inner.variables)
            )
            inner = Rel(
                df.select(*out_vars),
                frozenset(out_vars),
                inner.native & frozenset(out_vars),
            )
            return self._join(left, inner)
        return self._join(left, self.compile_pattern(right, graph))

    def _filter(self, p: A.Filter, graph) -> Rel:
        rel = self.compile_pattern(p.pattern, graph)
        e = p.expr
        # FILTER EXISTS / NOT EXISTS → semi/anti join (api.rs:2055-2057)
        if isinstance(e, A.ExExists):
            inner = self.compile_pattern(e.pattern, graph)
            shared = sorted(rel.variables & inner.variables)
            how = "left_anti" if e.negated else "left_semi"
            if not shared:
                # existence of ANY inner row decides globally
                flag = inner.df.limit(1)
                cond = F.lit(True)
                return Rel(rel.df.join(flag.select(F.lit(1).alias("__e")), cond, how),
                           rel.variables, rel.native)
            cond = reduce(
                lambda a, b: a & b,
                [rel.df[v].eqNullSafe(inner.df[v]) for v in shared],
            )
            return Rel(rel.df.join(inner.df.select(*shared), cond, how),
                       rel.variables, rel.native)
        ce = self._expr(e, rel)
        return Rel(rel.df.filter(ce.to_bool()), rel.variables, rel.native)

    # ------------------------------------------------- star-pattern scan
    # SURVEY §4(a): a BGP *star* — one subject variable carrying k >= 3
    # patterns with constant IRI predicates and distinct, unshared
    # object variables — is the dominant SPARQL shape over per-document
    # metadata (describe one entity's properties). Compiled naively it
    # is k-1 self-joins of the triples table on the subject key; here it
    # becomes ONE predicate-pruned scan (predicate IN (...) prunes the
    # predicate-partitioned store to k partitions) + ONE
    # groupBy(subject) + sequential explodes. Multiplicity matches the
    # join form exactly: a subject with |l_i| objects per predicate
    # yields the same prod(|l_i|) cartesian rows, and the
    # all-lists-non-empty filter is inner-join semantics. At 100 TB
    # this turns k shuffle-joins into one shuffle.
    def _star_rels(self, patterns, graph):
        """Partition BGP patterns into star-scan Rels + leftovers.

        A star pattern is either ``?s <p> ?o`` (distinct, unshared
        object variable — explodes its object list) or ``?s <p> <o>`` /
        ``?s <p> "lit"`` (constant object — a same-scan existence
        collect whose explode reproduces the join form's multiplicity
        exactly, so no set-semantics assumption on the store is
        needed)."""
        by_subj: dict[str, list] = {}
        leftovers = []
        for tp in patterns:
            if (
                isinstance(tp.s, A.Var)
                and isinstance(tp.p, A.Iri)
                and (
                    (isinstance(tp.o, A.Var) and tp.o.name != tp.s.name)
                    or isinstance(tp.o, (A.Iri, A.Literal))
                )
            ):
                by_subj.setdefault(tp.s.name, []).append(tp)
            else:
                leftovers.append(tp)
        rels = []
        for sname, tps in by_subj.items():
            ovars = [
                tp.o.name for tp in tps if isinstance(tp.o, A.Var)
            ]
            graph_ok = not (
                isinstance(graph, A.Var)
                and graph.name in {sname, *ovars}
            )
            if (
                len(tps) >= 3
                and len(set(ovars)) == len(ovars)
                and sname not in ovars
                and graph_ok
            ):
                rels.append(self._star_scan(sname, tps, graph))
            else:
                leftovers.extend(tps)
        return rels, leftovers

    def _star_scan(self, subj_var: str, tps, graph) -> Rel:
        df = self.triples
        if isinstance(graph, A.Iri):
            df = df.filter(F.col("graph_iri") == graph.value)
        preds = sorted({tp.p.value for tp in tps})
        df = df.filter(F.col("predicate").isin(*preds))
        obj = term(
            F.col("object_kind"),
            F.col("object_value"),
            F.col("object_datatype"),
            F.col("object_lang"),
        )

        def collected(tp):
            """What pattern i collects per matching row: the object term
            for a variable object, TRUE for a constant object (its
            explode then carries only the row multiplicity)."""
            pred_hit = F.col("predicate") == tp.p.value
            if isinstance(tp.o, A.Var):
                return F.when(pred_hit, obj)
            if isinstance(tp.o, A.Iri):
                hit = (
                    pred_hit
                    & (F.col("object_kind") == "iri")
                    & (F.col("object_value") == tp.o.value)
                )
            else:  # A.Literal — value + datatype + lang, as in bind()
                hit = (
                    pred_hit
                    & (F.col("object_kind") == "literal")
                    & (F.col("object_value") == tp.o.value)
                    & F.col("object_datatype").eqNullSafe(
                        F.lit(tp.o.datatype)
                    )
                    & F.col("object_lang").eqNullSafe(F.lit(tp.o.lang))
                )
            return F.when(hit, F.lit(True))

        keys = ["subject"]
        if isinstance(graph, A.Var):
            keys.append("graph_iri")
        g = df.groupBy(*keys).agg(
            *[
                F.collect_list(collected(tp)).alias(f"__l{i}")
                for i, tp in enumerate(tps)
            ]
        )
        g = g.filter(
            reduce(
                lambda a, b: a & b,
                [F.size(F.col(f"__l{i}")) > 0 for i in range(len(tps))],
            )
        )
        for i in range(len(tps)):
            g = g.withColumn(f"__o{i}", F.explode(F.col(f"__l{i}")))
        out = [node_term(F.col("subject")).alias(subj_var)]
        variables = {subj_var}
        if isinstance(graph, A.Var):
            out.append(iri_term(F.col("graph_iri")).alias(graph.name))
            variables.add(graph.name)
        for i, tp in enumerate(tps):
            if isinstance(tp.o, A.Var):
                out.append(F.col(f"__o{i}").alias(tp.o.name))
                variables.add(tp.o.name)
        return Rel(g.select(*out), frozenset(variables))

    def _triple_pattern(self, tp: A.TriplePattern, graph) -> Rel:
        # property paths first: rewrite to joins/unions/closures
        if not isinstance(tp.p, (A.Var, A.Iri)):
            return self._path_pattern(tp, graph)

        df = self.triples
        if isinstance(graph, A.Iri):
            df = df.filter(F.col("graph_iri") == graph.value)

        conds: list[Column] = []
        sel: dict[str, Column] = {}

        def bind(term_col: Column, node):
            if isinstance(node, A.Var):
                if node.name in sel:
                    conds.append(sel[node.name].eqNullSafe(term_col))
                else:
                    sel[node.name] = term_col
            elif isinstance(node, A.Iri):
                conds.append((term_col["kind"] == "iri") & (term_col["value"] == node.value))
            elif isinstance(node, A.Literal):
                conds.append(
                    (term_col["kind"] == "literal")
                    & (term_col["value"] == node.value)
                    & term_col["datatype"].eqNullSafe(F.lit(node.datatype))
                    & term_col["lang"].eqNullSafe(F.lit(node.lang))
                )
            elif isinstance(node, A.BlankNode):
                # bnodes in patterns act as non-projected variables
                name = f"__bnode_{node.label}"
                bind(term_col, A.Var(name))

        bind(node_term(F.col("subject")), tp.s)
        bind(iri_term(F.col("predicate")), tp.p)
        bind(
            term(F.col("object_kind"), F.col("object_value"),
                 F.col("object_datatype"), F.col("object_lang")),
            tp.o,
        )
        if isinstance(graph, A.Var):
            if graph.name in sel:
                conds.append(sel[graph.name].eqNullSafe(iri_term(F.col("graph_iri"))))
            else:
                sel[graph.name] = iri_term(F.col("graph_iri"))

        for c in conds:
            df = df.filter(c)
        df = df.select(*[col.alias(v) for v, col in sel.items()])
        return Rel(df, frozenset(sel))

    # ------------------------------------------------------------- paths
    def _path_pattern(self, tp: A.TriplePattern, graph) -> Rel:
        p = tp.p
        if isinstance(p, A.PathIri):
            return self._triple_pattern(A.TriplePattern(tp.s, A.Iri(p.iri), tp.o), graph)
        if isinstance(p, A.PathInverse):
            return self._path_pattern(A.TriplePattern(tp.o, p.inner, tp.s), graph)
        if isinstance(p, A.PathSequence):
            node = tp.s
            rels = []
            for i, part in enumerate(p.parts):
                nxt = tp.o if i == len(p.parts) - 1 else A.Var(f"__seq{id(p)}_{i}")
                rels.append(self._path_pattern(A.TriplePattern(node, part, nxt), graph))
                node = nxt
            rel = reduce(self._join, rels)
            keep = {v.name for v in (tp.s, tp.o) if isinstance(v, A.Var)}
            drop = [v for v in rel.variables if v.startswith("__seq")]
            return Rel(rel.df.drop(*drop), frozenset(rel.variables - set(drop) | keep),
                       rel.native)
        if isinstance(p, A.PathAlternative):
            rels = [self._path_pattern(A.TriplePattern(tp.s, part, tp.o), graph)
                    for part in p.parts]
            return reduce(self._union, rels)
        if isinstance(p, A.PathNegated):
            rel = self._triple_pattern(A.TriplePattern(tp.s, A.Var("__negp"), tp.o), graph)
            return Rel(
                rel.df.filter(~rel.df["__negp"]["value"].isin(*p.iris)).drop("__negp"),
                rel.variables - {"__negp"}, rel.native,
            )
        if isinstance(p, (A.PathOneOrMore, A.PathZeroOrMore, A.PathZeroOrOne)):
            return self._closure_pattern(tp, p, graph)
        raise SparqlCompileError(f"unsupported path {type(p).__name__}")

    def _path_edges(self, inner, graph) -> DataFrame:
        """(src, dst) edge set of one hop of an arbitrary path expression
        — the substrate the closure iterates over. A bare IRI reads the
        triples directly; composite paths (sequence / alternative /
        inverse / negated set) compile through :meth:`_path_pattern`
        between two fresh variables, so ``(p1/p2)+`` and ``(p1|p2)*``
        work with the same BFS."""
        if isinstance(inner, A.PathIri):
            df = self.triples
            if isinstance(graph, A.Iri):
                df = df.filter(F.col("graph_iri") == graph.value)
            return (
                df.filter(
                    (F.col("predicate") == inner.iri)
                    & (F.col("object_kind") != "literal")
                )
                .select(
                    F.col("subject").alias("src"),
                    F.col("object_value").alias("dst"),
                )
                .distinct()
            )
        s, o = A.Var("__edge_s"), A.Var("__edge_o")
        rel = self._path_pattern(A.TriplePattern(s, inner, o), graph)
        return (
            rel.df.filter(F.col("__edge_o")["kind"] != "literal")
            .select(
                F.col("__edge_s")["value"].alias("src"),
                F.col("__edge_o")["value"].alias("dst"),
            )
            .distinct()
        )

    def _closure_pattern(self, tp: A.TriplePattern, p, graph) -> Rel:
        """Transitive closure of a path via iterative delta joins.

        ``?s p+ ?o`` materializes the closure of the (s, o) edge set of
        path p. Each iteration extends the frontier by one hop and
        ``localCheckpoint``s to truncate lineage; the loop stops when the
        frontier is empty or at MAX_PATH_ITERATIONS (the reference's
        evaluator is equally bounded in practice by its 10 s deadline).
        """
        if isinstance(p, A.PathZeroOrOne):
            # 'p?' needs only edges ∪ identity — running the closure loop
            # (with its per-round eager materializations) and discarding
            # the result was pure waste (round-2 advisory)
            closure = self._path_edges(p.inner, graph)
        else:
            # checkpoint the edge set ONCE — it feeds every iteration's
            # join, and without this each round would repeat the edge-
            # derivation shuffle (distinct) from scratch
            edges = self._path_edges(p.inner, graph).localCheckpoint(eager=True, storageLevel=DISK_ONLY)

            # semi-naive deltas: only each round's NEW pairs are
            # materialized; the running closure stays a lazy union of
            # checkpointed deltas (materializing the full closure every
            # round is O(closure) extra I/O per iteration and dominated
            # the loop's cost)
            deltas = [edges]
            frontier = edges
            for _ in range(MAX_PATH_ITERATIONS):
                step = (
                    frontier.alias("f")
                    .join(edges.alias("e"), F.col("f.dst") == F.col("e.src"))
                    .select(
                        F.col("f.src").alias("src"),
                        F.col("e.dst").alias("dst"),
                    )
                    .distinct()
                )
                closure_so_far = reduce(DataFrame.unionByName, deltas)
                # the round's row count is observed on the checkpoint's
                # own job, so an empty frontier costs no probe job
                seen = Observation()
                new = (
                    step.join(closure_so_far, ["src", "dst"], "left_anti")
                    .observe(seen, F.count(F.lit(1)).alias("rows"))
                    .localCheckpoint(eager=True, storageLevel=DISK_ONLY)
                )
                if not seen.get["rows"]:
                    break
                deltas.append(new)
                frontier = new
            closure = reduce(DataFrame.unionByName, deltas)

        if isinstance(p, (A.PathZeroOrMore, A.PathZeroOrOne)):
            # Zero-length solutions range over ALL graph terms (SPARQL
            # ZeroLengthPath), not just p-incident nodes: a bound subject
            # with no p edges still yields its identity row (round-2
            # advisory). Literal terms are excluded — the closure's node
            # domain is IRI/bnode (edge endpoints are never literals).
            scoped = self.triples
            if isinstance(graph, A.Iri):
                scoped = scoped.filter(F.col("graph_iri") == graph.value)
            nodes = (
                scoped.select(F.col("subject").alias("n"))
                .unionByName(
                    scoped.filter(F.col("object_kind") == "iri").select(
                        F.col("object_value").alias("n")
                    )
                )
                .distinct()
            )
            zero = nodes.select(F.col("n").alias("src"), F.col("n").alias("dst"))
            closure = closure.unionByName(zero).dropDuplicates()

        sel: dict[str, Column] = {}
        out = closure
        if isinstance(tp.s, A.Var):
            sel[tp.s.name] = node_term(F.col("src"))
        else:
            out = out.filter(F.col("src") == tp.s.value)
        if isinstance(tp.o, A.Var):
            sel[tp.o.name] = node_term(F.col("dst"))
        else:
            out = out.filter(F.col("dst") == tp.o.value)
        out = out.select(*[c.alias(v) for v, c in sel.items()])
        return Rel(out, frozenset(sel))

    # -------------------------------------------------------------- join
    def _join(self, left: Rel, right: Rel) -> Rel:
        shared = sorted(left.variables & right.variables)
        if not left.variables:
            return Rel(right.df, right.variables, right.native)
        if not right.variables:
            return Rel(left.df, left.variables, left.native)
        if shared:
            df = left.df.join(right.df, on=shared, how="inner")
        else:
            df = left.df.crossJoin(right.df)
        return Rel(df, left.variables | right.variables, left.native | right.native)

    def _left_join(self, left: Rel, right: Rel, expr) -> Rel:
        shared = sorted(left.variables & right.variables)
        if expr is None:
            if shared:
                df = left.df.join(right.df, on=shared, how="left")
            else:
                # OPTIONAL with no shared vars: every left row pairs with
                # every right row; empty right keeps left with nulls.
                df = left.df.crossJoin(right.df)
                # crossJoin with empty right yields nothing — emulate left
                # semantics by unioning unmatched left rows back in.
                right_vars = sorted(right.variables)
                empty_right = left.df
                for v in right_vars:
                    empty_right = empty_right.withColumn(v, null_term())
                has_rows = right.df.limit(1).select(F.lit(1).alias("__one"))
                df = df.unionByName(
                    empty_right.join(has_rows, how="left_anti",
                                     on=F.lit(True))
                )
            return Rel(df, left.variables | right.variables,
                       left.native | right.native)

        # OPTIONAL with embedded FILTER (theta LeftJoin, api.rs:2049-2060):
        # matched = inner join + filter; unmatched = left rows with no match.
        joined = self._join(left, right)
        ce = self._expr(expr, joined)
        matched = Rel(joined.df.filter(ce.to_bool()), joined.variables, joined.native)
        lcols = sorted(left.variables)
        match_keys = matched.df.select(*lcols).dropDuplicates()
        cond = reduce(
            lambda a, b: a & b,
            [left.df[v].eqNullSafe(match_keys[v]) for v in lcols],
        )
        unmatched = left.df.join(match_keys, cond, "left_anti")
        for v in sorted(right.variables - left.variables):
            unmatched = unmatched.withColumn(v, null_term())
        return Rel(matched.df.unionByName(unmatched.select(*matched.df.columns)),
                   joined.variables, joined.native)

    def _union(self, left: Rel, right: Rel) -> Rel:
        all_vars = left.variables | right.variables
        ldf, rdf = left.df, right.df
        for v in sorted(all_vars - left.variables):
            ldf = ldf.withColumn(v, null_term())
        for v in sorted(all_vars - right.variables):
            rdf = rdf.withColumn(v, null_term())
        return Rel(ldf.unionByName(rdf.select(*ldf.columns)), all_vars,
                   left.native | right.native)

    def _values(self, p: A.Values) -> Rel:
        def enc(t):
            if t is None:
                return None
            if isinstance(t, A.Iri):
                return ("iri", t.value, None, None)
            if isinstance(t, A.Literal):
                return ("literal", t.value, t.datatype, t.lang)
            if isinstance(t, A.BlankNode):
                return ("bnode", "_:" + t.label, None, None)
            raise SparqlCompileError(f"bad VALUES term {t}")

        from pyspark.sql.types import StructField, StructType

        schema = StructType([StructField(v, TERM_SCHEMA) for v in p.variables])
        rows = [tuple(enc(t) for t in row) for row in p.rows]
        df = self.spark.createDataFrame(rows, schema)
        return Rel(df, frozenset(p.variables))

    # --------------------------------------------------------- grouping
    def _compile_group(self, rel: Rel, group_by, agg_specs) -> Rel:
        df = rel.df
        group_vars: list[str] = []
        for v, e in group_by:
            if e is not None:
                ce = self._expr(e, rel)
                df = df.withColumn(v, ce.to_term())
                rel = Rel(df, rel.variables | {v}, rel.native)
            group_vars.append(v)

        aggs: list[Column] = []
        native: set[str] = set()
        for name, fn in agg_specs:
            aggs.append(self._agg(fn, rel).alias(name))
            native.add(name)

        if group_vars:
            out = df.groupBy(*group_vars).agg(*aggs)
        else:
            out = df.agg(*aggs)
        return Rel(out, frozenset(group_vars) | frozenset(native), frozenset(native))

    def _agg(self, fn: A.ExFunc, rel: Rel) -> Column:
        if fn.name == "COUNT":
            if not fn.args:
                return F.count(F.lit(1))
            ce = self._expr(fn.args[0], rel)
            col = ce.col if ce.kind != "term" else ce.col
            return F.countDistinct(col) if fn.distinct else F.count(col)
        ce = self._expr(fn.args[0], rel)
        if fn.name == "SUM":
            c = ce.to_num()
            return F.sum_distinct(c) if fn.distinct else F.sum(c)
        if fn.name == "AVG":
            return F.avg(ce.to_num())
        if fn.name == "MIN":
            n = ce.to_num()
            return F.coalesce(F.min(n), F.min(ce.to_str()).try_cast("double"))
        if fn.name == "MAX":
            n = ce.to_num()
            return F.coalesce(F.max(n), F.max(ce.to_str()).try_cast("double"))
        if fn.name == "GROUP_CONCAT":
            sep = fn.separator if fn.separator is not None else " "
            vals = F.collect_set(ce.to_str()) if fn.distinct else F.collect_list(ce.to_str())
            # SPARQL leaves order unspecified; sort for determinism across
            # any partitioning (the 1000-partition answer must be stable).
            return F.array_join(F.sort_array(vals), sep)
        if fn.name == "SAMPLE":
            return F.min(ce.to_str())
        raise SparqlCompileError(f"unsupported aggregate {fn.name}")

    # ------------------------------------------------------- expressions
    def _expr(self, e, rel: Rel) -> CE:
        if isinstance(e, A.ExVar):
            if e.name in rel.native:
                return CE(rel.df[e.name], "num")
            if e.name not in rel.variables:
                return CE(null_term(), "term")
            return CE(rel.df[e.name], "term")
        if isinstance(e, A.ExTerm):
            return CE(_term_literal_col(e.term), "term")
        if isinstance(e, A.ExOp):
            return self._expr_op(e, rel)
        if isinstance(e, A.ExFunc):
            return self._expr_func(e, rel)
        if isinstance(e, A.ExExists):
            raise SparqlCompileError(
                "EXISTS is only supported as the top-level FILTER expression"
            )
        raise SparqlCompileError(f"unsupported expression {e}")

    def _expr_op(self, e: A.ExOp, rel: Rel) -> CE:
        op = e.op
        if op in ("||", "&&"):
            a, b = (self._expr(x, rel).to_bool() for x in e.args)
            return CE(a | b if op == "||" else a & b, "bool")
        if op == "!u":
            return CE(~self._expr(e.args[0], rel).to_bool(), "bool")
        if op == "-u":
            return CE(-self._expr(e.args[0], rel).to_num(), "num")
        if op == "+u":
            return CE(self._expr(e.args[0], rel).to_num(), "num")
        if op in ("=", "!="):
            a, b = (self._expr(x, rel) for x in e.args)
            eq = _term_eq(a, b)
            return CE(eq if op == "=" else ~eq, "bool")
        if op in ("<", ">", "<=", ">="):
            a, b = (self._expr(x, rel) for x in e.args)
            return CE(_term_cmp(a, b, op), "bool")
        if op in ("+", "-", "*", "/"):
            a, b = (self._expr(x, rel).to_num() for x in e.args)
            col = {"+": a + b, "-": a - b, "*": a * b, "/": a / b}[op]
            return CE(col, "num")
        if op in ("IN", "NOTIN"):
            target = self._expr(e.args[0], rel)
            eqs = [_term_eq(target, self._expr(x, rel)) for x in e.args[1:]]
            any_eq = reduce(lambda x, y: x | y, eqs) if eqs else F.lit(False)
            return CE(any_eq if op == "IN" else ~any_eq, "bool")
        raise SparqlCompileError(f"unsupported operator {op}")

    def _expr_func(self, e: A.ExFunc, rel: Rel) -> CE:
        name = e.name
        args = [self._expr(a, rel) for a in e.args]
        if name == "BOUND":
            return CE(args[0].col.isNotNull(), "bool")
        if name == "STR":
            return CE(args[0].to_str(), "str")
        if name == "LANG":
            return CE(F.coalesce(args[0].col["lang"], F.lit("")), "str")
        if name == "DATATYPE":
            t = args[0].col
            return CE(
                F.when(t["lang"].isNotNull(), F.lit(None).cast("string"))
                .when(t["datatype"].isNotNull(), t["datatype"])
                .when(t["kind"] == "literal", F.lit(XSD_STRING)),
                "str",
            )
        if name == "IF":
            c = args[0].to_bool()
            a, b = args[1].to_term(), args[2].to_term()
            return CE(F.when(c, a).otherwise(b), "term")
        if name == "COALESCE":
            return CE(F.coalesce(*[a.to_term() for a in args]), "term")
        if name == "CONTAINS":
            return CE(args[0].to_str().contains(args[1].to_str()), "bool")
        if name == "STRSTARTS":
            return CE(args[0].to_str().startswith(args[1].to_str()), "bool")
        if name == "STRENDS":
            return CE(args[0].to_str().endswith(args[1].to_str()), "bool")
        if name == "STRLEN":
            # xsd:integer per spec — keep the integer lexical form ('5',
            # not '5.0') so projected values match other engines
            return CE(
                literal_term(
                    F.length(args[0].to_str()).cast("long").cast("string"),
                    F.lit(XSD_INTEGER),
                ),
                "term",
            )
        if name == "UCASE":
            return CE(F.upper(args[0].to_str()), "str")
        if name == "LCASE":
            return CE(F.lower(args[0].to_str()), "str")
        if name == "SUBSTR":
            s = args[0].to_str()
            start = args[1].to_num().cast("int")
            if len(args) > 2:
                return CE(s.substr(start, args[2].to_num().cast("int")), "str")
            return CE(s.substr(start, F.length(s)), "str")
        if name == "CONCAT":
            return CE(F.concat(*[a.to_str() for a in args]), "str")
        if name == "REGEX":
            flags = ""
            if len(args) > 2 and isinstance(e.args[2], A.ExTerm):
                flags = e.args[2].term.value
            pattern_expr = e.args[1]
            if not isinstance(pattern_expr, A.ExTerm):
                raise SparqlCompileError("REGEX pattern must be a literal")
            pat = pattern_expr.term.value
            if "i" in flags:
                pat = "(?i)" + pat
            return CE(args[0].to_str().rlike(pat), "bool")
        if name == "ABS":
            return CE(F.abs(args[0].to_num()), "num")
        if name == "CEIL":
            return CE(F.ceil(args[0].to_num()).cast("double"), "num")
        if name == "FLOOR":
            return CE(F.floor(args[0].to_num()).cast("double"), "num")
        if name == "ROUND":
            return CE(F.round(args[0].to_num(), 0), "num")
        if name == "ISIRI" or name == "ISURI":
            return CE(args[0].col["kind"] == "iri", "bool")
        if name == "ISLITERAL":
            return CE(args[0].col["kind"] == "literal", "bool")
        if name == "ISBLANK":
            return CE(args[0].col["kind"] == "bnode", "bool")
        if name == "ISNUMERIC":
            return CE(numeric_value(args[0].col).isNotNull(), "bool")
        if name == "SAMETERM":
            a, b = args
            return CE(
                (a.col["kind"].eqNullSafe(b.col["kind"]))
                & a.col["value"].eqNullSafe(b.col["value"])
                & a.col["datatype"].eqNullSafe(b.col["datatype"])
                & a.col["lang"].eqNullSafe(b.col["lang"]),
                "bool",
            )
        if name == "STRBEFORE":
            # literal (instr-based) like STRAFTER — F.split treats its
            # pattern as a REGEX, so a match string with metacharacters
            # gave wrong results (STRBEFORE('a.b','.') -> '') or threw
            # on invalid patterns like '(' (round-2 advisory)
            s, m = args[0].to_str(), args[1].to_str()
            idx = F.instr(s, m)
            return CE(
                F.when(idx > 0, F.substring(s, F.lit(1), idx - 1)).otherwise(
                    F.lit("")
                ),
                "str",
            )
        if name == "STRAFTER":
            s, m = args[0].to_str(), args[1].to_str()
            idx = F.instr(s, m)
            return CE(F.when(idx > 0, F.substring(s, idx + F.length(m), F.length(s))).otherwise(F.lit("")), "str")
        if name == "IRI" or name == "URI":
            return CE(iri_term(args[0].to_str()), "term")
        # typed-cast constructors, e.g. xsd:integer(?x)
        if name.startswith("http://www.w3.org/2001/XMLSchema#"):
            dt = name
            if dt == XSD_INTEGER:
                # try_cast: an out-of-long-range double is a cast error
                # (unbound), not an ANSI overflow crash
                return CE(literal_term(args[0].to_num().try_cast("long").cast("string"),
                                       F.lit(XSD_INTEGER)), "term")
            if dt == XSD_DOUBLE:
                return CE(literal_term(args[0].to_num().cast("string"),
                                       F.lit(XSD_DOUBLE)), "term")
            return CE(literal_term(args[0].to_str(), F.lit(dt)), "term")
        raise SparqlCompileError(f"unsupported function {name}")
