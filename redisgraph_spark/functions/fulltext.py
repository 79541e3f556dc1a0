"""Fulltext search — RediSearch-compatible query language over a
positional inverted index, DataFrame-native.

The reference's procedures (``/root/reference/src/procedures/
proc_fulltext_create_index.c:65``, ``proc_fulltext_query.c:124``)
delegate parsing and matching to RediSearch; this module re-implements
the public RediSearch query grammar (space = AND, ``|`` = OR, ``-`` =
NOT, ``"..."`` = exact phrase, ``@field:`` restriction, ``term*``
prefix, ``%term%`` fuzzy) and compiles it to joins over the index.

Index layout: ``(field, token, _id, tf, positions)`` — one row per
(field, token, node). At 100 TB this table is hash-partitioned by
token so a query touches only its terms' partitions. A conjunction's
plain terms are one aggregate over the index rows that match any of
them, keeping the ids every term matched (RediSearch walks an AND's
posting lists once the same way); phrase matching is an equi-join on
(_id, field) between the phrase's term rows plus an
``array_intersect`` over shifted position arrays — no re-scan of the
raw text. Scoring: Σ term frequency over matched terms (RediSearch's
default TF scoring shape; the reference's default has no IDF either).
Below the adaptive gate a graph's hits sort in one partition, with no
range-sample job; above it they sort with a global ``orderBy``.
"""

from __future__ import annotations

import dataclasses
import functools
import operator
import re
from dataclasses import dataclass, field as dc_field
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_WORD_RE = re.compile(r"[a-z0-9]+")


# ---------------------------------------------------------------------------
# Index build
# ---------------------------------------------------------------------------

def build_index(nodes: DataFrame, props: list[str] | str,
                id_col: str = "_id") -> DataFrame:
    """Tokenize each of `props` (lowercase, alphanumeric runs) into a
    positional inverted index ``(field, token, _id, tf, positions)``."""
    if isinstance(props, str):
        props = [props]
    parts = []
    for prop in props:
        toks = F.split(F.lower(F.col(prop).cast("string")),
                       r"[^a-z0-9]+")
        exploded = nodes.select(
            F.col(id_col),
            F.posexplode(toks).alias("pos", "token")) \
            .filter(F.col("token") != "") \
            .withColumn("field", F.lit(prop))
        parts.append(
            exploded.groupBy("field", "token", id_col).agg(
                F.count(F.lit(1)).alias("tf"),
                F.sort_array(F.collect_list("pos")).alias("positions")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# Query AST + parser (public RediSearch grammar subset)
# ---------------------------------------------------------------------------

@dataclass
class FtTerm:
    word: str
    field: str | None = None
    prefix: bool = False
    fuzzy: bool = False


@dataclass
class FtPhrase:
    words: list[str]
    field: str | None = None


@dataclass
class FtNot:
    child: object


@dataclass
class FtOptional:
    """RediSearch `~term`: does not restrict matches, but documents
    containing it score higher."""
    child: object


@dataclass
class FtAnd:
    children: list = dc_field(default_factory=list)


@dataclass
class FtOr:
    children: list = dc_field(default_factory=list)


_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<lparen>\() | (?P<rparen>\)) | (?P<or>\|) | (?P<neg>-) |
        (?P<opt>~) |
        (?P<field>@[A-Za-z_][A-Za-z0-9_]*:) |
        (?P<phrase>"[^"]*") |
        (?P<fuzzy>%[^%\s]+%) |
        (?P<word>[^\s()|@"%-][^\s()|"]*)
    )""", re.VERBOSE)


def _lex(text: str) -> list[tuple[str, str]]:
    out, i = [], 0
    while i < len(text):
        m = _TOKEN_RE.match(text, i)
        if m is None:
            i += 1  # skip unrecognized punctuation
            continue
        i = m.end()
        for kind in ("lparen", "rparen", "or", "neg", "opt", "field",
                     "phrase", "fuzzy", "word"):
            v = m.group(kind)
            if v is not None:
                out.append((kind, v))
                break
    return out


class _Parser:
    """Recursive-descent parser.

    expr := unit+            (implicit AND)
    unit := alt
    alt  := atom ('|' atom)* (OR binds tighter than implicit AND,
                              matching RediSearch: `a|b c` = (a|b) AND c)
    atom := '-' atom | '(' expr ')' | '@f:' atom | phrase | fuzzy | word
    """

    def __init__(self, toks: list[tuple[str, str]]):
        self.toks = toks
        self.i = 0

    def peek(self) -> str | None:
        return self.toks[self.i][0] if self.i < len(self.toks) else None

    def parse_expr(self):
        units = []
        while self.peek() is not None and self.peek() != "rparen":
            units.append(self.parse_alt())
        if not units:
            return FtAnd([])
        return units[0] if len(units) == 1 else FtAnd(units)

    def parse_alt(self):
        first = self.parse_atom()
        alts = [first]
        while self.peek() == "or":
            self.i += 1
            alts.append(self.parse_atom())
        return alts[0] if len(alts) == 1 else FtOr(alts)

    def parse_atom(self):
        if self.i >= len(self.toks):
            return FtAnd([])      # dangling operator: empty match
        kind, v = self.toks[self.i]
        self.i += 1
        if kind == "neg":
            return FtNot(self.parse_atom())
        if kind == "opt":
            return FtOptional(self.parse_atom())
        if kind == "lparen":
            inner = self.parse_expr()
            if self.peek() == "rparen":
                self.i += 1
            return inner
        if kind == "field":
            fname = v[1:-1]
            child = self.parse_atom()
            return _apply_field(child, fname)
        if kind == "phrase":
            words = _WORD_RE.findall(v[1:-1].lower())
            if len(words) == 1:
                return FtTerm(words[0])
            return FtPhrase(words)
        if kind == "fuzzy":
            return FtTerm(v[1:-1].lower(), fuzzy=True)
        # word: trailing * = prefix search
        prefix = v.endswith("*")
        w = v[:-1] if prefix else v
        words = _WORD_RE.findall(w.lower())
        if not words:
            return FtAnd([])
        if len(words) == 1:
            return FtTerm(words[0], prefix=prefix)
        # hyphenated/punctuated word tokenizes to a phrase
        return FtPhrase(words)


def _apply_field(node, fname: str):
    if isinstance(node, (FtTerm, FtPhrase)):
        if node.field is None:
            node.field = fname
        return node
    if isinstance(node, (FtNot, FtOptional)):
        node.child = _apply_field(node.child, fname)
        return node
    if isinstance(node, (FtAnd, FtOr)):
        node.children = [_apply_field(c, fname) for c in node.children]
        return node
    return node


def parse_query(text: str):
    return _Parser(_lex(text)).parse_expr()


class Skeleton(NamedTuple):
    """A query parameter that plan templates key by its skeleton: the
    parsed query with each word replaced by its index, and the names
    of the string parameters that carry the words
    (graph/templates.py)."""
    shape: object
    leaves: tuple


def _map_words(node, fn):
    """A copy of the AST ``node`` with every word ``w`` as ``fn(w)``."""
    if isinstance(node, FtTerm):
        return dataclasses.replace(node, word=fn(node.word))
    if isinstance(node, FtPhrase):
        return dataclasses.replace(node, words=[fn(w) for w in node.words])
    if isinstance(node, (FtNot, FtOptional)):
        return type(node)(_map_words(node.child, fn))
    return type(node)([_map_words(c, fn) for c in node.children])


def skeleton(text: str) -> tuple[object, list[str]]:
    """``(shape, words)``: the parsed query with its words taken out,
    each replaced by its index in ``words``. Every part of the compiled
    plan but the word literals depends on the shape alone."""
    words: list[str] = []

    def take(w: str) -> int:
        words.append(w)
        return len(words) - 1
    return _map_words(parse_query(text), take), words


def fill(shape, words) -> object:
    """The parsed query of ``shape`` with its words put back."""
    return _map_words(shape, words.__getitem__)


# ---------------------------------------------------------------------------
# Compiler: AST -> DataFrame (_id, score)
# ---------------------------------------------------------------------------

def _term_cond(t: FtTerm):
    if t.fuzzy:
        cond = F.levenshtein(F.col("token"), F.lit(t.word)) <= 1
    elif t.prefix:
        cond = F.col("token").startswith(t.word)
    else:
        cond = F.col("token") == t.word
    if t.field is not None:
        cond = cond & (F.col("field") == t.field)
    return cond


def _terms_df(index: DataFrame, terms: list[FtTerm],
              id_col: str) -> DataFrame:
    """The ids that match every one of ``terms``, scored Σ tf over them
    (a repeated term counts once per repeat): one aggregate over the
    index rows that match any term. Each row's per-term match flags
    are projected beneath the aggregate, so the word literals stay out
    of its functions and a plan template's two sentinel sets plan the
    same aggregate (graph/templates.py)."""
    conds = [_term_cond(t) for t in terms]
    flags = [f"_c{i}" for i in range(len(terms))]
    rows = index.filter(functools.reduce(operator.or_, conds)) \
        .select(id_col, "tf", *[c.cast("int").alias(f)
                                for c, f in zip(conds, flags)])
    weight = functools.reduce(operator.add, map(F.col, flags))
    return rows.groupBy(id_col) \
        .agg(F.sum(weight * F.col("tf")).cast("double").alias("score"),
             *[F.max(f).alias(f) for f in flags]) \
        .filter(functools.reduce(operator.and_,
                                 [F.col(f) >= 1 for f in flags])) \
        .select(id_col, "score")


def _phrase_df(index: DataFrame, p: FtPhrase, id_col: str) -> DataFrame:
    """Adjacent-position intersection: occurrences of w1 whose shifted
    positions survive intersection with every later word's positions."""
    base = index
    if p.field is not None:
        base = base.filter(F.col("field") == p.field)
    cur = base.filter(F.col("token") == p.words[0]) \
        .select(id_col, "field", F.col("positions").alias("_pp"))
    for i, w in enumerate(p.words[1:], start=1):
        nxt = base.filter(F.col("token") == w) \
            .select(F.col(id_col).alias("_nid"),
                    F.col("field").alias("_nfield"),
                    F.col("positions").alias("_np"))
        cur = cur.join(
            nxt, (cur[id_col] == nxt["_nid"])
            & (cur["field"] == nxt["_nfield"])) \
            .withColumn(
                "_pp",
                F.array_intersect(
                    F.transform("_pp", lambda x: x + i),
                    F.col("_np"))) \
            .select(id_col, "field", "_pp") \
            .withColumn(
                "_pp", F.transform("_pp", lambda x: x - i))
    return cur.filter(F.size("_pp") > 0) \
        .groupBy(id_col) \
        .agg(F.sum(F.size("_pp")).cast("double").alias("score"))


def _compile(index: DataFrame, node, id_col: str,
             universe: DataFrame) -> DataFrame:
    """Returns (_id, score). `universe` = all candidate ids (needed for
    pure-negative branches)."""
    if isinstance(node, FtTerm):
        return _terms_df(index, [node], id_col)
    if isinstance(node, FtPhrase):
        return _phrase_df(index, node, id_col)
    if isinstance(node, FtOr):
        dfs = [_compile(index, c, id_col, universe)
               for c in node.children]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out.groupBy(id_col).agg(F.sum("score").alias("score"))
    if isinstance(node, FtNot):
        pos = _compile(index, node.child, id_col, universe)
        return universe.join(pos.select(id_col), id_col, "left_anti") \
            .select(id_col, F.lit(0.0).alias("score"))
    if isinstance(node, FtOptional):
        # standalone optional = matches like its child (union context)
        return _compile(index, node.child, id_col, universe)
    if isinstance(node, FtAnd):
        if not node.children:     # dangling-operator residue: match ∅
            return universe.limit(0) \
                .select(id_col, F.lit(0.0).alias("score"))
        # punctuation-only tokens ('!!', ':)') parse to empty FtAnd
        # markers; RediSearch ignores stray punctuation, so they must
        # not zero out the conjunction. A query of ONLY such tokens
        # still matches nothing (the all-dropped case below).
        children = [c for c in node.children
                    if not (isinstance(c, FtAnd) and not c.children)]
        if not children:
            return universe.limit(0) \
                .select(id_col, F.lit(0.0).alias("score"))
        node = FtAnd(children)
        pos = [c for c in node.children
               if not isinstance(c, (FtNot, FtOptional))]
        neg = [c for c in node.children if isinstance(c, FtNot)]
        opt = [c for c in node.children if isinstance(c, FtOptional)]
        if not pos and opt:
            # optional-only query: match the union of the optionals
            out = _compile(index, FtOr([o.child for o in opt]),
                           id_col, universe)
            opt = []
        elif not pos:
            out = universe.select(id_col, F.lit(0.0).alias("score"))
        else:
            # the plain terms are one aggregate; each other conjunct
            # (phrase, OR, nested AND) joins it on the id
            terms = [c for c in pos if isinstance(c, FtTerm)]
            rest = [c for c in pos if not isinstance(c, FtTerm)]
            out = _terms_df(index, terms, id_col) if terms \
                else _compile(index, rest.pop(0), id_col, universe)
            for c in rest:
                nxt = _compile(index, c, id_col, universe) \
                    .withColumnRenamed("score", "_s2")
                out = out.join(nxt, id_col) \
                    .withColumn("score", F.col("score") + F.col("_s2")) \
                    .drop("_s2")
        for o in opt:
            # ~term: no filtering, score boost when present
            boost = _compile(index, o.child, id_col, universe) \
                .withColumnRenamed("score", "_ob")
            out = out.join(boost, id_col, "left") \
                .withColumn("score", F.col("score")
                            + F.coalesce(F.col("_ob"), F.lit(0.0))) \
                .drop("_ob")
        for n in neg:
            bad = _compile(index, n.child, id_col, universe)
            out = out.join(bad.select(id_col), id_col, "left_anti")
        return out
    raise ValueError(f"bad fulltext node {node!r}")


def _hits(index: DataFrame, nodes: DataFrame, query,
          id_col: str) -> DataFrame:
    """Node rows matching ``query`` (text or parsed AST) + score, in no
    order."""
    ast = parse_query(query) if isinstance(query, str) else query
    if isinstance(ast, FtAnd) and not ast.children:
        return nodes.limit(0).withColumn("score", F.lit(0.0))
    matched = _compile(index, ast, id_col, nodes.select(id_col))
    return nodes.join(matched, id_col)


def query_index(index: DataFrame, nodes: DataFrame, query,
                id_col: str = "_id") -> DataFrame:
    """Match `query` (RediSearch text, or its parsed AST) against the
    index, return node rows + score descending
    (≈ db.idx.fulltext.queryNodes YIELD node, score)."""
    return _hits(index, nodes, query, id_col) \
        .orderBy(F.col("score").desc(), F.col(id_col).asc())


class FulltextCatalog:
    """Per-graph registry: label → (fields, combined index DataFrame).
    ≈ Schema.fulltextIdx (``src/schema/schema.h:20-28``)."""

    def __init__(self, graph) -> None:
        self.graph = graph
        self.fields: dict[str, list[str]] = {}
        self._index: dict[str, DataFrame] = {}

    @property
    def indexes(self) -> dict[tuple[str, str], DataFrame]:
        """(label, prop) keys — kept for db.indexes listing compat."""
        return {(l, p): self._index[l]
                for l, ps in self.fields.items() for p in ps}

    def create(self, label: str, *props: str) -> None:
        nodes = self.graph.node_tables[label]
        fields = list(dict.fromkeys(self.fields.get(label, []) +
                                    list(props)))
        idx = build_index(nodes, fields).localCheckpoint(eager=True)
        self.fields[label] = fields
        self._index[label] = idx

    def drop(self, label: str, prop: str | None = None) -> None:
        if label not in self.fields:
            return
        if prop is None:
            self.fields.pop(label, None)
            self._index.pop(label, None)
            return
        remaining = [p for p in self.fields[label] if p != prop]
        if remaining:
            self.create_replace(label, remaining)
        else:
            self.fields.pop(label, None)
            self._index.pop(label, None)

    def create_replace(self, label: str, props: list[str]) -> None:
        nodes = self.graph.node_tables[label]
        self.fields[label] = list(props)
        self._index[label] = build_index(nodes, list(props)) \
            .localCheckpoint(eager=True)

    def refresh(self, before: dict) -> None:
        """Rebuild the index of each label whose node table is no longer
        the one in ``before`` (a write replaced it), as RedisGraph keeps
        its RediSearch indexes current on node writes."""
        for label, props in list(self.fields.items()):
            if self.graph.node_tables.get(label) is not before.get(label):
                self.create_replace(label, props)

    def query(self, label: str, query) -> DataFrame:
        """Node rows of ``label`` matching ``query`` with their score,
        best first. ``query`` is the query text or its parsed AST
        (``parse_query``, ``fill``); a plan template passes an AST
        whose words are sentinels, so the plan's word literals are the
        only part a request rebinds."""
        if label not in self._index:
            raise ValueError(f"No fulltext index on label {label}")
        index, nodes = self._index[label], self.graph.node_tables[label]
        if not self.graph._small_input:
            return query_index(index, nodes, query)
        # below the adaptive gate the hits are few: one partition sorts
        # them, with no range-sample job
        return _hits(index, nodes, query, "_id").coalesce(1) \
            .sortWithinPartitions(F.col("score").desc(), F.col("_id").asc())

    def query_many(self, label: str, terms: list[str]) -> DataFrame:
        """Vectorized batch query for SIMPLE single-token terms (the
        caller validates — no operators/phrases/prefix/fuzzy): ONE
        equi-join of the (term, token) set against the inverted index
        replaces one query_index() plan per term. This is the scale
        path for ``UNWIND terms CALL queryNodes(...)`` — no per-term
        driver loop; the join shuffles on token only, and each term's
        score is the same Σtf that ``FtTerm`` compilation produces.
        Returns node rows + (``__ft_term`` original term, score)."""
        if label not in self._index:
            raise ValueError(f"No fulltext index on label {label}")
        from redisgraph_spark.session import inline_df
        pairs = []
        for t in terms:
            toks = _WORD_RE.findall(t.lower())
            if not toks:
                raise ValueError(
                    f"query_many requires simple alphanumeric terms; "
                    f"got no tokens in {t!r}")
            pairs.append((t, toks[0]))
        tdf = inline_df(self.graph.spark, pairs,
                        [("__ft_term", "string"), ("__ft_tok", "string")])
        idx = self._index[label]
        matched = idx.join(F.broadcast(tdf),
                           idx["token"] == F.col("__ft_tok")) \
            .groupBy("__ft_term", "_id") \
            .agg(F.sum("tf").cast("double").alias("score"))
        return self.graph.node_tables[label].join(matched, "_id")
