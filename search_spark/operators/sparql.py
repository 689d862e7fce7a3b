"""A small SPARQL ``SELECT`` compiler onto the BGP operator.

The reference leaves triple querying to hand-written SQL over its mining
cache (``database/mining_cache.py`` + notebook queries); this engine's
:mod:`search_spark.operators.bgp` already evaluates conjunctive patterns,
OPTIONAL blocks and FILTER NOT EXISTS as DataFrame joins. This module adds
the missing user surface: parse a SPARQL ``SELECT`` string and compile it
to that operator, so a KG consumer can query the materialized
``(subj, pred, obj)`` table declaratively instead of assembling pattern
lists by hand.

Supported subset (documented, fail-loud outside it):

* all four query forms via :func:`sparql_query`: ``SELECT``,
  ``CONSTRUCT { template } WHERE { ... }`` (templated triples over the
  FILTERed bindings) plus the ``CONSTRUCT WHERE { bgp }`` shorthand
  (the pattern set is the template; spec-restricted to a plain BGP),
  ``ASK { ... }`` (bool, LocalLimit short-circuit) and
  ``DESCRIBE <resource>`` (single OR-of-equalities scan) or
  ``DESCRIBE ?v WHERE { ... }`` (the variable's bindings become the
  resource set — position-wise semi-joins, no OR-join, no collect),
* ``SELECT [DISTINCT] ?v1 ?v2 ... | * WHERE { ... }``
* aggregate projections ``(COUNT([DISTINCT] ?v | *) AS ?alias)`` /
  ``(SUM|MIN|MAX|AVG|SAMPLE([DISTINCT] ?v) AS ?alias)`` /
  ``(GROUP_CONCAT([DISTINCT] ?v [; SEPARATOR="s"]) AS ?alias)`` with
  ``GROUP BY ?v ...`` (or a global aggregate when GROUP BY is absent);
  non-aggregated SELECT variables must appear in GROUP BY (fail-loud,
  like ANSI SQL). ``SAMPLE`` is deterministic-any-value (MIN);
  ``GROUP_CONCAT`` concatenates in sorted order (SPARQL leaves the order
  implementation-defined; sorting keeps results hash-comparable).
  ``HAVING (expr)`` filters the aggregated rows — the expression grammar
  is FILTER's, with aggregate aliases usable as variables,
* triple patterns ``term term term .`` where a term is ``?var``,
  ``<iri>``, ``"literal"`` (with ``\\"`` / ``\\\\`` escapes) or a bare
  token — IRI brackets and literal quotes are stripped: the engine's
  triple terms are plain strings,
* ``OPTIONAL { <pattern or full group> }`` (left join on the shared
  variables; a single plain pattern stays on the BGP fast path, a full
  group — multiple patterns, filters, paths — compiles to its own
  bindings frame first; may chain),
* ``FILTER [NOT] EXISTS { <pattern or full group> }`` (semi / anti
  join on the shared variables),
* ``FILTER (expr)`` with comparisons ``= != < <= > >=`` whose sides are
  full value expressions (variables, constants, BIND builtins,
  whitespace-separated arithmetic — ``FILTER(STRLEN(?n) > 3)``,
  ``FILTER(?p * ?q >= ?cap)``), boolean builtins ``CONTAINS /
  STRSTARTS / STRENDS / REGEX(?v, "s")`` and ``BOUND(?v)`` (each
  negatable with ``!``), and ``?v [NOT] IN (t1, t2, ...)``, combined
  with ``&&`` / ``||``,
* ``BIND(expr AS ?v)`` with ``CONCAT / UCASE / LCASE / STRLEN / STR /
  REPLACE(e, pat, rep) / SUBSTR(e, start[, len]) / COALESCE(e, ...) /
  IF(cmp, then, else)`` plus whitespace-separated arithmetic
  ``+ - * /`` (operands ``try_cast`` to double; non-numeric terms yield
  NULL rather than aborting the scan) over variables and
  literals (nested calls allowed; applied after the group's joins, so a
  later FILTER can reference the bound variable — SPARQL's group-wide
  FILTER scope),
* ``MINUS { group }`` (a full nested group; compiled as a left-anti join
  on the shared variables — with no shared variable it removes nothing,
  as in SPARQL; rows whose shared variables are NULL/unbound follow
  Spark's non-matching join-key semantics),
* ``VALUES ?v { t1 t2 ... }`` and ``VALUES (?v1 ?v2) { (a b) (c d) }``
  (inline bindings; compiled as a broadcast inner join — the data is
  query-sized by construction),
* ``{ group } UNION { group } [UNION { group } ...]`` as the whole WHERE
  body (each branch a full group: patterns / OPTIONAL / FILTER / VALUES;
  branch-local variables are NULL — i.e. unbound — in the other
  branches' rows, as in SPARQL),
* subqueries ``{ SELECT ... WHERE { ... } [GROUP BY/HAVING/ORDER/LIMIT] }``
  nested inside a group (SPARQL 1.1 §12): evaluated bottom-up on the full
  (graph-restricted) triple table, then the projected bindings hash-join
  the enclosing group on the shared variables (no shared variable
  raises — same no-cartesian rule as everywhere else). The classic
  per-group top-k / aggregate-then-join shapes compile to one plan,
* property paths in the predicate position of *required* patterns —
  ``^p`` (inverse), ``p1/p2`` (sequence), ``p1|p2`` (alternation),
  ``p+`` (one-or-more) and ``p*`` (zero-or-more) — both bounded by
  ``path_max_hops`` with semi-naive early exit — ``p?`` (zero-or-one),
  ``p{0,k}`` / ``p{1,k}`` (explicit bounds) and negated property sets
  ``!p`` / ``!(p1|^p2|...)`` (one step over any predicate outside the
  set, per direction branch); compiled onto
  :mod:`search_spark.operators.paths` with constant ends seeding the
  frontier-propagated evaluation (a constant *object* seeds the
  algebraically flipped path). Zero-length paths match per SPARQL 1.1
  §18.4: the seed itself when an end is constant, else every term
  appearing as subject or object of the (graph-restricted) triple
  table,
* ``ORDER BY ?v ... | DESC(?v)``, ``LIMIT n`` and ``OFFSET n`` (offset
  applies after the sort, before the limit, as in SPARQL).

Semantics note: bindings are always *set* semantics (the BGP operator
dedups — provenance rows collapse), so ``DISTINCT`` re-applies after the
projection and plain ``SELECT`` returns the distinct full-binding rows
projected. Aggregates therefore count/sum over the *distinct* binding
rows (document this when hash-comparing against a bag-semantics engine).
``COUNT(?v)`` skips unbound (NULL) values, as in SPARQL; ``SUM``/``AVG``
``try_cast`` the string terms to double (non-numeric terms aggregate as
NULL rather than aborting the scan under ANSI mode). ``LIMIT`` without a
total ``ORDER BY`` is nondeterministic in SPARQL and here too — callers
that hash-compare must order on a key.

Scale: parsing is driver-side string work on a query-sized input; the plan
it emits is exactly the BGP operator's (per-pattern pushed-down scans,
hash joins on shared variables, no cartesians — disconnected patterns
raise). ``ORDER BY``+``LIMIT`` compiles to a global sort only when the
caller asked for one; the common top-k shape is TakeOrderedAndProject.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from search_spark.checkpoints import chain as _ckpt
from search_spark.operators.bgp import instantiate_template, match_bgp
from search_spark.operators.paths import (
    Alt,
    Inv,
    NegSet,
    PathExpr,
    Pred,
    Repeat,
    Seq,
    eval_path,
    normalize,
)
from search_spark.session import local_df

#: engine bound for the SPARQL ``+`` (one-or-more) path modifier — the
#: semi-naive Repeat loop exits early on an empty delta, so any bound at
#: or above the graph's longest simple path makes ``+`` exact.
PATH_MAX_HOPS = 16

_TOKEN = re.compile(
    r"""\?[A-Za-z_][A-Za-z0-9_]*   # variable
      | <[^>\s]*>                  # iri (no whitespace — keeps `< ?b`
                                   #      in FILTER from lexing as an iri)
      | "(?:[^"\\]|\\.)*"          # quoted literal
      | \{ | \} | \( | \) | \. | ; # structure / GROUP_CONCAT separator
      | \[ | \]                    # blank-node property lists
      | && | \|\| | != | <= | >= | = | < | >
      | \|                         # path alternation (after || above)
      | ! | ,                      # FILTER negation / argument separator
      | \?                         # zero-or-one path modifier (a bare
                                   #  `?` not followed by a name)
      | [^\s{}()."?<>=!&|,;\[\]]+  # bare token
    """,
    re.VERBOSE,
)

#: what the ``a`` keyword means in the predicate position (SPARQL 1.1
#: §4.2.4 — the rdf:type IRI)
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

_CMP_OPS = {"=", "!=", "<", "<=", ">", ">="}

_AGG_FNS = {"count", "sum", "min", "max", "avg", "sample", "group_concat"}

#: boolean FILTER builtins → how the single/double string args compile
_BOOL_FNS = {"contains", "strstarts", "strends", "regex", "bound",
             "isnumeric", "sameterm"}

#: value-expression builtins usable inside BIND(... AS ?v)
_EXPR_FNS = {"concat", "ucase", "lcase", "strlen", "str", "replace",
             "substr", "coalesce", "if",
             "abs", "ceil", "floor", "round", "encode_for_uri",
             "strbefore", "strafter", "md5", "sha1", "sha256"}

_ARITH_OPS = ("+", "-", "*", "/")


def _source_nonempty(path: str) -> bool:
    """True when a LOAD source holds any *content* line — non-blank and
    not a ``#`` comment (file, or any file under a directory). Used to
    distinguish a legitimately quad-free document (empty, or
    comments/blank lines only — both valid N-Triples that must LOAD as
    zero inserts) from a format/suffix mismatch that parsed zero quads
    out of real statements (ADVICE r4)."""
    import os

    def _file_has_content(p: str) -> bool:
        try:
            with open(p, encoding="utf-8", errors="replace") as f:
                return any(
                    line.strip() and not line.lstrip().startswith("#")
                    for line in f
                )
        except OSError:
            return False

    try:
        if os.path.isdir(path):
            return any(
                _file_has_content(os.path.join(dp, f))
                for dp, _, fs in os.walk(path)
                for f in fs
                if not f.startswith((".", "_"))
            )
        return _file_has_content(path)
    except OSError:
        return False


class SparqlError(ValueError):
    pass


def _tokenize(query: str) -> list[str]:
    toks = _TOKEN.findall(query)
    if "".join(toks).replace(" ", "") == "":
        raise SparqlError("empty query")
    return _expand_prefixes(toks)


_PNAME = re.compile(r"^([A-Za-z_][A-Za-z0-9_.\-]*)?:([A-Za-z0-9_.\-/#%]*)$")


def _expand_prefixes(toks: list[str]) -> list[str]:
    """Consume leading ``PREFIX ns: <iri>`` declarations and expand every
    prefixed name (``ns:local``, including the empty prefix ``:local``)
    into a bracketed IRI token, so the rest of the compiler only ever
    sees full terms. Applied inside :func:`_tokenize`, which makes
    PREFIX work uniformly across SELECT / CONSTRUCT / ASK / DESCRIBE and
    every UPDATE form. Colon-bearing tokens whose prefix is undeclared
    pass through untouched (bare terms like ``urn:x:y`` stay legal);
    ``BASE`` (relative-IRI resolution) is not supported and fails loud
    at the query-form dispatch."""
    mapping: dict[str, str] = {}
    i = 0
    while i < len(toks) and toks[i].lower() == "prefix":
        if i + 2 >= len(toks):
            raise SparqlError("malformed PREFIX declaration")
        name, iri = toks[i + 1], toks[i + 2]
        if not name.endswith(":") or not (
            iri.startswith("<") and iri.endswith(">")
        ):
            raise SparqlError(
                f"malformed PREFIX declaration near {name!r}"
            )
        mapping[name[:-1]] = iri[1:-1]
        i += 3
    rest = toks[i:]
    if not mapping:
        return rest
    out = []
    for t in rest:
        out.extend(_expand_one(t, mapping))
    return out


def _expand_one(t: str, mapping: dict[str, str]) -> list[str]:
    if t.startswith(("<", '"', "?")):
        return [t]
    m = _PNAME.match(t)
    if m and (m.group(1) or "") in mapping:
        return [f"<{mapping[m.group(1) or '']}{m.group(2)}>"]
    if ":" not in t:
        return [t]
    # the bare-token lexer merges path chains (`ex:a/ex:b`, `ex:p+`) into
    # one token — split on the path operators that CAN be merged
    # (/ + * ^; | { } ? are lexed separately) and expand the segments;
    # commit only if something expanded, so undeclared colon terms like
    # urn:x:y stay one literal token
    parts = [p for p in re.split(r"([/+*^])", t) if p]
    expanded = []
    changed = False
    for part in parts:
        mm = _PNAME.match(part)
        if mm and (mm.group(1) or "") in mapping:
            expanded.append(f"<{mapping[mm.group(1) or '']}{mm.group(2)}>")
            changed = True
        else:
            expanded.append(part)
    return expanded if changed else [t]


def _unescape(lit: str) -> str:
    return re.sub(r"\\(.)", r"\1", lit)


def _term(tok: str) -> str:
    """Normalize a pattern term: vars keep the ``?``, constants strip
    IRI brackets / literal quotes down to the plain triple-term string."""
    if tok.startswith("?"):
        return tok
    if tok.startswith("<") and tok.endswith(">"):
        return tok[1:-1]
    if tok.startswith('"') and tok.endswith('"'):
        return _unescape(tok[1:-1])
    return tok


#: reserved column-name prefix for blank-node variables; user variables
#: starting with this are rejected so SELECT * can drop them safely
_BN = "__bnode__"

#: per-call flag: route BGPs through match_bgp's selectivity-ordered
#: join planning (contextvar so nested subquery compiles inherit it)
import contextvars as _contextvars

_OPTIMIZE: _contextvars.ContextVar[bool] = _contextvars.ContextVar(
    "sparql_optimize", default=False
)


class _Parser:
    def __init__(self, toks: list[str]):
        self.toks = toks
        self.i = 0
        self.bn = 0  # anonymous-blank-node counter ([] terms)

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> str:
        if self.i >= len(self.toks):
            raise SparqlError("unexpected end of query")
        tok = self.toks[self.i]
        self.i += 1
        return tok

    def expect(self, want: str) -> None:
        tok = self.next()
        if tok.lower() != want.lower():
            raise SparqlError(f"expected {want!r}, got {tok!r}")

    def kw(self, word: str) -> bool:
        tok = self.peek()
        if tok is not None and tok.lower() == word:
            self.i += 1
            return True
        return False


_PATH_OPS = ("/", "|", "+", "^", "*")


def _parse_term_token(p: _Parser) -> str:
    tok = p.next()
    if (
        tok in "{}().;,"
        or tok == "!"
        or tok.lower() in ("optional", "filter")
    ):
        raise SparqlError(f"malformed triple pattern near {tok!r}")
    if tok == "[" and p.peek() == "]":
        # anonymous blank node [] — a fresh scoped variable. A
        # non-empty [ ... ] property list is handled by the callers
        # that can collect its patterns (_parse_term_or_bnpl).
        p.next()
        p.bn += 1
        return f"?{_BN}anon{p.bn}"
    if tok in ("[", "]"):
        raise SparqlError(
            "blank-node property lists are only supported in triple "
            "patterns and templates"
        )
    if tok.startswith("_:"):
        # labeled blank node: a non-projectable variable scoped to the
        # query (labels may not span groups per spec, so one name per
        # label is exact for legal queries)
        if not tok[2:]:
            raise SparqlError("empty blank-node label")
        return f"?{_BN}{tok[2:]}"
    if tok.startswith("?") and tok[1:].startswith(_BN):
        raise SparqlError(f"variable names starting with {_BN} are reserved")
    return _term(tok)


def _parse_negated_set(p: _Parser) -> NegSet:
    """``!`` already consumed: parse ``iri``, ``^iri`` or
    ``( one ('|' one)* )`` into a :class:`NegSet` (SPARQL 1.1
    PathNegatedPropertySet)."""
    fwd: list[str] = []
    inv: list[str] = []

    def one() -> None:
        flipped = False
        if p.peek() == "^":
            p.next()
            flipped = True
        tok = p.next()
        if tok.startswith("?") or tok in "{}()." or tok in _PATH_OPS:
            raise SparqlError(
                f"negated property set expects predicate names, "
                f"got {tok!r}"
            )
        (inv if flipped else fwd).append(_term(tok))

    if p.peek() == "(":
        p.next()
        one()
        while p.peek() == "|":
            p.next()
            one()
        p.expect(")")
    else:
        one()
    return NegSet(tuple(fwd) or None, tuple(inv) or None)


def _parse_path_unary(p: _Parser, max_hops: int) -> PathExpr:
    inverted = False
    if p.peek() == "^":
        p.next()
        inverted = True
    if p.peek() == "(":
        p.next()
        expr = _parse_path_alt(p, max_hops)
        p.expect(")")
    elif p.peek() == "!":
        p.next()
        expr = _parse_negated_set(p)
    else:
        tok = p.next()
        if tok.startswith("?"):
            raise SparqlError(
                "variables cannot appear inside a property path"
            )
        if tok in "{}()." or tok in _PATH_OPS:
            raise SparqlError(f"malformed property path near {tok!r}")
        expr = Pred(RDF_TYPE if tok == "a" else _term(tok))
    if inverted:
        expr = Inv(expr)
    while p.peek() in ("+", "{", "*", "?"):
        tok = p.next()
        if tok == "+":
            expr = Repeat(expr, max_hops)
        elif tok == "*":  # zero-or-more: bounded closure + zero frame
            expr = Repeat(expr, max_hops, min_hops=0)
        elif tok == "?":  # zero-or-one
            expr = Repeat(expr, 1, min_hops=0)
        else:  # {lo,k} with lo in {0,1} — Repeat's native bounded form
            lo = p.next()
            if lo not in ("0", "1") or p.peek() != ",":
                raise SparqlError(
                    f"path repetition must be {{0,k}} or {{1,k}}, "
                    f"got {{{lo}...}}"
                )
            p.next()  # ","
            hi = p.next()
            if not hi.isdigit() or int(hi) < 1:
                raise SparqlError(
                    f"path repetition bound must be a positive integer, "
                    f"got {hi!r}"
                )
            p.expect("}")
            expr = Repeat(expr, int(hi), min_hops=int(lo))
    return expr


def _parse_path_seq(p: _Parser, max_hops: int) -> PathExpr:
    expr = _parse_path_unary(p, max_hops)
    while p.peek() == "/":
        p.next()
        expr = Seq(expr, _parse_path_unary(p, max_hops))
    return expr


def _parse_path_alt(p: _Parser, max_hops: int) -> PathExpr:
    expr = _parse_path_seq(p, max_hops)
    while p.peek() == "|":
        p.next()
        expr = Alt(expr, _parse_path_seq(p, max_hops))
    return expr


def _parse_pred(p: _Parser, paths: bool, max_hops: int) -> object:
    """The predicate position of one triple pattern: a property path
    (when ``paths``), the ``a`` keyword, or a plain term."""
    if paths and not (p.peek() or "?").startswith("?"):
        pred: object = _parse_path_alt(p, max_hops)
        if isinstance(pred, Pred) and not pred.inverted:
            pred = pred.name
        return pred
    raw = p.peek()
    pred = _parse_term_token(p)
    if raw == "a":  # SPARQL's rdf:type keyword (predicate position);
        pred = RDF_TYPE  # the *IRI* <a> is a plain term, not the keyword
    if p.peek() in _PATH_OPS:
        raise SparqlError(
            "property paths are only supported in required patterns "
            "with constant predicates"
            if not paths
            else "variables cannot appear inside a property path"
        )
    return pred


def _check_path_ends(subj: str, pred: object, obj: str) -> None:
    if (
        not isinstance(pred, str)
        and not subj.startswith("?")
        and not obj.startswith("?")
    ):
        raise SparqlError(
            "property-path pattern needs at least one variable end"
        )


def _parse_bnpl(p: _Parser, extra: list[tuple], paths: bool,
                max_hops: int) -> str:
    """``[`` consumed: a blank-node property list (SPARQL 1.1 grammar
    BlankNodePropertyListPath). Mints a fresh anonymous blank-node
    variable, appends its ``pred obj`` patterns (object lists and
    ``;`` chains, nesting allowed) to ``extra``, and returns the
    variable so the caller can use it as a term. ``[ ]`` is the plain
    anonymous node."""
    p.bn += 1
    b = f"?{_BN}anon{p.bn}"
    if p.peek() == "]":
        p.next()
        return b
    while True:
        pred = _parse_pred(p, paths, max_hops)
        while True:
            obj = _parse_term_or_bnpl(p, extra, paths, max_hops)
            _check_path_ends(b, pred, obj)
            extra.append((b, pred, obj))
            if p.peek() == ",":
                p.next()
                continue
            break
        if p.peek() == ";":
            p.next()
            if p.peek() == "]":
                break
            continue
        break
    p.expect("]")
    return b


def _parse_term_or_bnpl(p: _Parser, extra: list[tuple], paths: bool,
                        max_hops: int) -> str:
    if p.peek() == "[":
        p.next()
        return _parse_bnpl(p, extra, paths, max_hops)
    return _parse_term_token(p)


def _parse_pattern_list(
    p: _Parser, paths: bool = False, max_hops: int = PATH_MAX_HOPS
) -> list[tuple]:
    """One subject's patterns with Turtle-style abbreviations
    (SPARQL 1.1 grammar TriplesSameSubjectPath): object lists
    (``?s <p> "a", "b"`` — shared subject+predicate),
    predicate-object lists (``?s <p> ?o ; <q> ?r`` — shared subject),
    and blank-node property lists (``[ <p> ?o ]`` as subject or
    object). Expands to plain triples so downstream plans are
    unchanged; a trailing ``;`` before ``.`` / ``}`` is tolerated as
    in Turtle."""
    pats: list[tuple] = []
    subj = _parse_term_or_bnpl(p, pats, paths, max_hops)
    if pats and p.peek() in (".", "}", None):
        # a bare subject-position property list: `[ <p> ?o ] .`
        if p.peek() == ".":
            p.next()
        return pats
    while True:
        pred = _parse_pred(p, paths, max_hops)
        while True:
            obj = _parse_term_or_bnpl(p, pats, paths, max_hops)
            _check_path_ends(subj, pred, obj)
            pats.append((subj, pred, obj))
            if p.peek() == ",":
                p.next()
                continue
            break
        if p.peek() == ";":
            p.next()
            if p.peek() in (".", "}", None):
                break
            continue
        break
    if p.peek() == ".":
        p.next()
    return pats


def _parse_filter_expr(p: _Parser) -> list:
    """``(`` already consumed; parse boolean atoms joined by && / ||.

    Returns a flat AST (no SparkSession needed at parse time):
    ``[atom, conj, atom, conj, ...]`` where ``conj`` is ``"&&"`` /
    ``"||"``; the compiler applies SPARQL 1.1 §17.2 precedence
    (``&&`` over ``||``), and ``( ... )`` boolean groups nest as
    ``("bgroup", sub_ast, neg)`` atoms. An atom is one of::

        ("cmp", vexpr, op, vexpr)         ?v < "x", STRLEN(?v) > 3,
                                          ?a + 1 >= ?b  etc. — each side
                                          a full BIND value expression
        ("fn", name, [operands], neg)     [!]CONTAINS/STRSTARTS/STRENDS/
                                          REGEX(?v, "s") | [!]BOUND(?v)
        ("in", operand, [terms], neg)     ?v [NOT] IN ("a", "b")

    with operands ``("var", name)`` or ``("lit", value)``."""

    def operand() -> tuple[str, str]:
        tok = p.next()
        if tok.startswith("?"):
            return ("var", tok[1:])
        return ("lit", _term(tok))

    def atom() -> tuple:
        neg = False
        while p.peek() == "!":
            p.next()
            neg = not neg
        tok = p.peek()
        if tok is not None and tok.lower() == "not":
            # NOT here can only open NOT EXISTS — anything else falls
            # through to the term parse (restore on mismatch)
            save = p.i
            p.next()
            if p.peek() is not None and p.peek().lower() == "exists":
                neg = not neg
                tok = p.peek()
            else:
                p.i = save
        if tok is not None and tok.lower() == "exists":
            # [NOT] EXISTS { group } as a boolean atom inside a filter
            # expression (compiled to a left-join marker column so it
            # composes with && / || / !)
            p.next()
            p.expect("{")
            return ("exists", _parse_group(p, PATH_MAX_HOPS), neg)
        if tok == "(":
            # try a parenthesized BOOLEAN group first — "(", though,
            # also opens arithmetic like (?a + 1) > ?b, so backtrack to
            # the comparison parse when the boolean reading fails
            save = p.i
            p.next()
            try:
                sub = _parse_filter_expr(p)
                return ("bgroup", sub, neg)
            except SparqlError:
                p.i = save
        if tok is not None and tok.lower() in _BOOL_FNS:
            fn = p.next().lower()
            p.expect("(")
            args = [operand()]
            while p.peek() == ",":
                p.next()
                args.append(operand())
            p.expect(")")
            if fn == "bound":
                if len(args) != 1 or args[0][0] != "var":
                    raise SparqlError("BOUND takes one variable")
            elif fn == "isnumeric":
                if len(args) != 1:
                    raise SparqlError("ISNUMERIC takes one argument")
            elif fn == "regex":
                if len(args) not in (2, 3):
                    raise SparqlError(
                        "REGEX takes (text, pattern[, flags])"
                    )
                if len(args) == 3:
                    if args[2][0] != "lit" or not (
                        set(args[2][1]) <= set("smix")
                    ):
                        raise SparqlError(
                            "REGEX flags must be a literal drawn from "
                            "'smix' (Java inline-flag subset)"
                        )
            elif len(args) != 2:
                raise SparqlError(f"{fn.upper()} takes 2 arguments")
            return ("fn", fn, args, neg)
        left_e = _parse_value_expr(p)
        nxt = p.next()
        if nxt.lower() in ("in", "not"):
            if left_e[0] != "term":
                raise SparqlError(
                    "[NOT] IN takes a variable or literal left side"
                )
            if nxt.lower() == "not":
                p.expect("IN")
                neg = not neg
            p.expect("(")
            terms = []
            while p.peek() != ")":
                if p.peek() == ",":
                    p.next()
                    continue
                terms.append(_term(p.next()))
            p.next()
            if not terms:
                raise SparqlError("IN list has no terms")
            return ("in", left_e[1], terms, neg)
        if neg:
            raise SparqlError("'!' applies to boolean functions only")
        if nxt not in _CMP_OPS:
            raise SparqlError(f"unsupported FILTER operator {nxt!r}")
        return ("cmp", left_e, nxt, _parse_value_expr(p))

    ast: list = [atom()]
    while p.peek() in ("&&", "||"):
        ast.append(p.next())
        ast.append(atom())
    p.expect(")")
    return ast


def _col_of(operand: tuple[str, str]) -> Column:
    kind, val = operand
    return F.col(val) if kind == "var" else F.lit(val)


def _numericish(e: tuple) -> bool:
    """True when a value expression is numeric-valued by construction
    (arithmetic, or a numeric builtin like STRLEN)."""
    return e[0] == "arith" or (
        e[0] == "call"
        and e[1] in ("strlen", "abs", "ceil", "floor", "round")
    )


def _attach_exists_markers(
    out: DataFrame, ast: list, triples: DataFrame, gvar: str | None
) -> tuple[DataFrame, list, list[str]]:
    """Rewrite ``("exists", group, neg)`` atoms of one filter AST into
    marker-column references: each EXISTS group compiles to its
    bindings, whose distinct shared-variable projection left-joins the
    current bindings with a TRUE flag — the flag's null-ness IS the
    EXISTS truth value, so it composes with ``&&`` / ``||`` / ``!``
    (the standalone ``FILTER EXISTS`` form keeps its semi/anti-join
    fast path). Returns ``(out, rewritten_ast, marker_columns)``."""
    markers: list[str] = []

    def rewrite(sub: list) -> list:
        nonlocal out
        new_ast = list(sub)
        for idx in range(0, len(new_ast), 2):
            a = new_ast[idx]
            if not isinstance(a, tuple) or not a:
                continue
            if a[0] == "bgroup":
                new_ast[idx] = ("bgroup", rewrite(a[1]), a[2])
                continue
            if a[0] != "exists":
                continue
            group, neg = a[1], a[2]
            if gvar is not None:
                group.setdefault("graph_var", gvar)
            edf = _compile_group(triples, group)
            shared = sorted(set(out.columns) & set(edf.columns))
            if not shared:
                raise SparqlError(
                    "EXISTS group shares no variable with the enclosing "
                    "bindings"
                )
            m = f"__exists__{len(markers)}"
            flag = edf.select(*shared).distinct().withColumn(
                m, F.lit(True)
            )
            out = out.join(flag, on=shared, how="left")
            markers.append(m)
            new_ast[idx] = ("exists_marker", m, neg)
        return new_ast

    rewritten = rewrite(ast)  # rebinds `out` — evaluate before returning
    return out, rewritten, markers


def _compile_filter(ast: list) -> Column:
    def atom_col(a: tuple) -> Column:
        if a[0] == "bgroup":
            c = _compile_filter(a[1])
            return ~c if a[2] else c
        if a[0] == "exists_marker":
            c = F.col(a[1]).isNotNull()
            return ~c if a[2] else c
        if a[0] == "exists":
            raise SparqlError(
                "EXISTS is not supported in this clause (FILTER inside "
                "a group only)"
            )
        if a[0] == "cmp":
            _, left, op, right = a
            lc, rc = _compile_bind_expr(left), _compile_bind_expr(right)
            if _numericish(left) or _numericish(right):
                # a numeric-valued side makes the whole comparison
                # numeric (SPARQL operator semantics); try_cast keeps
                # non-numeric terms NULL (filtered) instead of an ANSI
                # cast abort
                lc = lc.try_cast("double")
                rc = rc.try_cast("double")
            return {
                "=": lc == rc,
                "!=": lc != rc,
                "<": lc < rc,
                "<=": lc <= rc,
                ">": lc > rc,
                ">=": lc >= rc,
            }[op]
        if a[0] == "fn":
            _, fn, args, neg = a
            if fn == "bound":
                c = _col_of(args[0]).isNotNull()
            elif fn == "isnumeric":
                # plain-string term model: true when the term casts to a
                # number (the value-typed reading of SPARQL isNumeric)
                c = _col_of(args[0]).try_cast("double").isNotNull()
            elif fn == "regex":
                # SPARQL REGEX is a partial match, same as rlike; flags
                # compile to a Java inline-flag prefix on the pattern
                lc = _col_of(args[0])
                flags = args[2][1] if len(args) == 3 else ""
                if args[1][0] == "lit":
                    pat = (f"(?{flags})" if flags else "") + args[1][1]
                    c = lc.rlike(pat)
                else:
                    if flags:
                        raise SparqlError(
                            "REGEX flags need a literal pattern"
                        )
                    c = F.rlike(lc, _col_of(args[1]))
            else:
                lc, rc = _col_of(args[0]), _col_of(args[1])
                c = {
                    "contains": lc.contains(rc),
                    "strstarts": lc.startswith(rc),
                    "strends": lc.endswith(rc),
                    # plain-string term model: null-safe term equality
                    "sameterm": lc.eqNullSafe(rc),
                }[fn]
            return ~c if neg else c
        _, left, terms, neg = a  # "in"
        c = _col_of(left).isin(*terms)
        return ~c if neg else c

    # && binds tighter than || (SPARQL 1.1 §17.2): fold each run of
    # &&-joined atoms first, then OR the runs
    or_runs: list[Column] = []
    run = atom_col(ast[0])
    for i in range(1, len(ast), 2):
        rhs = atom_col(ast[i + 1])
        if ast[i] == "&&":
            run = run & rhs
        else:
            or_runs.append(run)
            run = rhs
    or_runs.append(run)
    expr = or_runs[0]
    for r in or_runs[1:]:
        expr = expr | r
    return expr


def _parse_value_expr(p: _Parser) -> tuple:
    """Parse one value expression (shared by BIND and the comparison
    sides of FILTER / HAVING). AST:
    ``("term", operand)``, ``("call", fn, [sub-exprs])`` with fn in
    ``_EXPR_FNS`` (nested calls allowed), ``("arith", op, l, r)`` for
    ``+ - * /`` with the usual precedence (operators need surrounding
    whitespace — ``?x-5`` lexes as one bare token), or
    ``("if", (op, l, r), then, else)`` whose condition is one comparison
    between two sub-expressions (same operators as FILTER)."""

    def factor() -> tuple:
        tok = p.peek()
        if tok == "(":
            p.next()
            e = expr()
            p.expect(")")
            return e
        if tok is not None and tok.lower() == "if":
            p.next()
            p.expect("(")
            left = expr()
            op = p.next()
            if op not in _CMP_OPS:
                raise SparqlError(
                    f"IF condition must be a comparison, got {op!r}"
                )
            right = expr()
            p.expect(",")
            then_e = expr()
            p.expect(",")
            else_e = expr()
            p.expect(")")
            return ("if", (op, left, right), then_e, else_e)
        if tok is not None and tok.lower() in _EXPR_FNS:
            fn = p.next().lower()
            p.expect("(")
            args = []
            while p.peek() != ")":
                if p.peek() == ",":
                    p.next()
                    continue
                args.append(expr())
            p.next()
            if not args:
                raise SparqlError(f"{fn.upper()} takes arguments")
            return ("call", fn, args)
        tok = p.next()
        if tok.startswith("?"):
            return ("term", ("var", tok[1:]))
        return ("term", ("lit", _term(tok)))

    def mul() -> tuple:
        e = factor()
        while p.peek() in ("*", "/"):
            e = ("arith", p.next(), e, factor())
        return e

    def expr() -> tuple:
        e = mul()
        while p.peek() in ("+", "-"):
            e = ("arith", p.next(), e, mul())
        return e

    return expr()


def _parse_bind(p: _Parser) -> tuple[list, str]:
    """``BIND`` already consumed: ``( expr AS ?v )`` with the shared
    value-expression grammar (:func:`_parse_value_expr`)."""
    p.expect("(")
    e = _parse_value_expr(p)
    p.expect("AS")
    var = p.next()
    if not var.startswith("?"):
        raise SparqlError(f"BIND alias must be a variable, got {var!r}")
    p.expect(")")
    return e, var[1:]


def _compile_bind_expr(e: tuple) -> Column:
    if e[0] == "term":
        return _col_of(e[1])
    if e[0] == "arith":
        # SPARQL numeric operators; string terms cast value-wise, non-
        # numeric ones yield NULL (try_cast / try_divide keep ANSI mode
        # from aborting the scan)
        _, op, l, r = e
        lc = _compile_bind_expr(l).try_cast("double")
        rc = _compile_bind_expr(r).try_cast("double")
        if op == "/":
            return F.try_divide(lc, rc)
        return {"+": lc + rc, "-": lc - rc, "*": lc * rc}[op]
    if e[0] == "if":
        _, (op, cl, cr), then_e, else_e = e
        lc, rc = _compile_bind_expr(cl), _compile_bind_expr(cr)
        cond = {
            "=": lc == rc, "!=": lc != rc, "<": lc < rc,
            "<=": lc <= rc, ">": lc > rc, ">=": lc >= rc,
        }[op]
        return F.when(cond, _compile_bind_expr(then_e)).otherwise(
            _compile_bind_expr(else_e)
        )
    _, fn, args = e
    cols = [_compile_bind_expr(a) for a in args]

    def lit_int(a: tuple, what: str) -> int:
        if a[0] != "term" or a[1][0] != "lit" or not a[1][1].isdigit():
            raise SparqlError(f"{what} must be an integer literal")
        return int(a[1][1])

    if fn == "concat":
        return F.concat(*cols)
    if fn == "ucase":
        return F.upper(cols[0])
    if fn == "lcase":
        return F.lower(cols[0])
    if fn == "strlen":
        return F.length(cols[0])
    if fn == "str":
        return cols[0].cast("string")
    if fn == "coalesce":
        return F.coalesce(*cols)
    if fn == "abs":
        return F.abs(cols[0].try_cast("double"))
    if fn in ("ceil", "floor"):
        # cast back to double so CEIL/FLOOR results compose with the
        # engine's double-valued arithmetic
        c = cols[0].try_cast("double")
        return (F.ceil(c) if fn == "ceil" else F.floor(c)).cast("double")
    if fn == "round":
        return F.round(cols[0].try_cast("double"), 0)
    if fn in ("strbefore", "strafter"):
        if len(args) != 2:
            raise SparqlError(f"{fn.upper()} takes (string, search)")
        pos = F.instr(cols[0], cols[1])
        if fn == "strbefore":
            # SPARQL: "" when the search string does not occur
            return F.when(
                pos > 0, F.substring(cols[0], F.lit(1), pos - 1)
            ).otherwise(F.lit(""))
        return F.when(
            pos > 0, cols[0].substr(pos + F.length(cols[1]), F.lit(1 << 30))
        ).otherwise(F.lit(""))
    if fn == "encode_for_uri":
        # SPARQL ENCODE_FOR_URI percent-encodes all but RFC 3986
        # unreserved chars; url_encode is form-encoding, so fix the
        # three divergences (space, '~', '*') in one codegen chain
        enc = F.url_encode(cols[0].cast("string"))
        enc = F.regexp_replace(enc, r"\+", "%20")
        enc = F.regexp_replace(enc, "%7E", "~")
        return F.regexp_replace(enc, r"\*", "%2A")
    if fn in ("md5", "sha1"):
        return (F.md5 if fn == "md5" else F.sha1)(cols[0].cast("string"))
    if fn == "sha256":
        return F.sha2(cols[0].cast("string"), 256)
    if fn == "replace":
        if len(args) != 3 or args[1][0] != "term" or args[1][1][0] != "lit" \
                or args[2][0] != "term" or args[2][1][0] != "lit":
            raise SparqlError(
                "REPLACE takes (expr, pattern-literal, replacement-literal)"
            )
        return F.regexp_replace(cols[0], args[1][1][1], args[2][1][1])
    # substr: SPARQL is 1-based with an optional length, like Spark
    if len(args) == 2:
        return F.substring(cols[0], lit_int(args[1], "SUBSTR start"), 2**30)
    if len(args) == 3:
        return F.substring(
            cols[0],
            lit_int(args[1], "SUBSTR start"),
            lit_int(args[2], "SUBSTR length"),
        )
    raise SparqlError("SUBSTR takes (expr, start[, length])")


def parse_select(query: str, path_max_hops: int = PATH_MAX_HOPS) -> dict:
    """Parse a SPARQL SELECT into a plain dict (used by :func:`sparql_select`
    and directly testable without a SparkSession for the plan parts)."""
    p = _Parser(_tokenize(query))
    q = _parse_select_body(p, path_max_hops, subquery=False)
    if p.peek() is not None:
        raise SparqlError(f"unexpected trailing token {p.peek()!r}")
    return q


def _parse_select_body(p: _Parser, path_max_hops: int = PATH_MAX_HOPS,
                       subquery: bool = False) -> dict:
    """Parse ``SELECT ... [solution modifiers]`` from the current parser
    position. With ``subquery=True`` (a ``{ SELECT ... }`` nested inside a
    group) the trailing solution-modifier loop stops at the enclosing
    ``}`` instead of requiring end-of-input; the caller consumes the
    brace."""
    p.expect("SELECT")
    distinct = p.kw("distinct")
    select_vars: list[str] = []  # output names in projection order
    # (fn, distinct, arg, alias, group_concat-separator)
    aggs: list[tuple[str, bool, str, str, str]] = []
    select_exprs: list[tuple[tuple, str]] = []  # (value-expr AST, alias)
    star = False
    from_graphs: list[str] = []
    from_named: list[str] = []
    while True:
        tok = p.peek()
        if tok is None:
            raise SparqlError("missing WHERE")
        if tok.lower() == "where":
            p.next()
            break
        if tok.lower() == "from":
            if subquery:
                raise SparqlError(
                    "subqueries do not take dataset clauses (SPARQL 1.1 "
                    "§12: the subquery inherits the outer dataset)"
                )
            from_graphs, from_named = _parse_dataset_clauses(p)
            p.expect("WHERE")
            break
        tok = p.next()
        if tok == "*":
            star = True
        elif tok.startswith("?"):
            select_vars.append(tok[1:])
        elif tok == "(":
            if p.peek() is not None and p.peek().lower() not in _AGG_FNS:
                # SPARQL 1.1 projection expression: ( expr AS ?alias ) —
                # the shared BIND value-expression grammar; evaluated
                # after grouping, so it may reference aggregate aliases
                e = _parse_value_expr(p)
                p.expect("AS")
                alias = p.next()
                if not alias.startswith("?"):
                    raise SparqlError(
                        f"projection alias must be a variable, got {alias!r}"
                    )
                p.expect(")")
                select_exprs.append((e, alias[1:]))
                select_vars.append(alias[1:])
                continue
            fn = p.next().lower()
            if fn not in _AGG_FNS:
                raise SparqlError(f"unsupported aggregate {fn!r}")
            p.expect("(")
            agg_distinct = p.kw("distinct")
            if p.peek() == "*":
                p.next()
                if fn != "count":
                    raise SparqlError(f"bad aggregate argument '*'")
                arg: object = "*"
            else:
                # full value expression (SUM(?x * ?y), COUNT(UCASE(?v)))
                arg = _parse_value_expr(p)
            # DISTINCT is legal in every SPARQL aggregate; for MIN/MAX/
            # SAMPLE it is the identity and for COUNT(DISTINCT *) the
            # module's set semantics already make rows distinct
            sep = " "  # SPARQL's GROUP_CONCAT default separator
            if p.peek() == ";":
                if fn != "group_concat":
                    raise SparqlError(
                        "';' argument is only valid in GROUP_CONCAT"
                    )
                p.next()
                p.expect("SEPARATOR")
                p.expect("=")
                stok = p.next()
                if not (stok.startswith('"') and stok.endswith('"')):
                    raise SparqlError("SEPARATOR takes a quoted literal")
                sep = _unescape(stok[1:-1])
            p.expect(")")
            p.expect("AS")
            alias = p.next()
            if not alias.startswith("?"):
                raise SparqlError(f"aggregate alias must be a variable, "
                                  f"got {alias!r}")
            p.expect(")")
            aggs.append((fn, agg_distinct, arg, alias[1:], sep))
            select_vars.append(alias[1:])
        else:
            raise SparqlError(f"bad SELECT term {tok!r}")
    if star and (aggs or select_exprs):
        raise SparqlError(
            "SELECT * cannot mix with aggregates or projection expressions"
        )
    if not star and not select_vars:
        raise SparqlError("SELECT binds no variables")
    p.expect("{")
    groups = _parse_where_body(p, path_max_hops)
    if from_graphs or from_named:
        _mark_default_graph(groups)
    order: list[tuple[str, bool]] = []  # (var, descending)
    post_values: list[tuple[list[str], list[tuple[str, ...]]]] = []
    group_by: list[str] = []
    group_exprs: list[tuple] = []  # (value-expr AST, alias) keys
    having: list[list] = []
    limit: int | None = None
    offset: int | None = None
    while p.peek() is not None and not (subquery and p.peek() == "}"):
        tok = p.next().lower()
        if tok == "having":
            p.expect("(")
            having.append(_parse_filter_expr(p))
            while p.peek() == "(":  # HAVING (e1) (e2) — implicit AND
                p.next()
                having.append(_parse_filter_expr(p))
        elif tok == "order":
            p.expect("BY")
            while True:
                nxt = p.peek()
                if nxt is None or nxt.lower() in ("limit", "offset", "group"):
                    break
                desc = False
                if nxt.lower() in ("desc", "asc"):
                    p.next()
                    desc = nxt.lower() == "desc"
                    p.expect("(")
                    key: object = _parse_value_expr(p)
                    p.expect(")")
                    # DESC(?v) sorts on the variable itself, not a copy
                    if key[0] == "term" and key[1][0] == "var":
                        key = key[1][1]
                elif nxt.startswith("?"):
                    key = p.next()[1:]
                elif nxt == "(":
                    # bare parenthesized sort expression: ORDER BY (expr)
                    p.next()
                    key = _parse_value_expr(p)
                    p.expect(")")
                else:
                    raise SparqlError(
                        f"ORDER BY expects ?var, DESC/ASC(expr) or "
                        f"(expr), got {nxt!r}"
                    )
                order.append((key, desc))
        elif tok == "group":
            p.expect("BY")
            while True:
                nxt = p.peek()
                if nxt is not None and nxt.startswith("?"):
                    group_by.append(p.next()[1:])
                    continue
                if nxt == "(":
                    # GROUP BY ( expr AS ?alias ): the key is a computed
                    # column, bound pre-grouping (bare unaliased
                    # expression keys are not supported — name them)
                    p.next()
                    e = _parse_value_expr(p)
                    p.expect("AS")
                    alias = p.next()
                    if not alias.startswith("?") or not alias[1:]:
                        raise SparqlError(
                            "GROUP BY expression needs (expr AS ?alias)"
                        )
                    p.expect(")")
                    group_exprs.append((e, alias[1:]))
                    group_by.append(alias[1:])
                    continue
                break
            if not group_by:
                raise SparqlError("GROUP BY names no variables")
        elif tok == "limit":
            limit = int(p.next())
        elif tok == "offset":
            offset = int(p.next())
        elif tok == "values":
            # trailing VALUES (SPARQL 1.1 §10.2): inline data joined to
            # the whole WHERE result (across all UNION branches), before
            # grouping/projection
            post_values.append(_parse_values(p))
        else:
            raise SparqlError(f"unexpected trailing token {tok!r}")
    if aggs:
        alias_set = {a for _, _, _, a, _ in aggs}
        alias_set |= {a for _, a in select_exprs}
        bad = [v for v in select_vars
               if v not in alias_set and v not in group_by]
        if bad:
            raise SparqlError(
                f"non-aggregated SELECT variables missing from GROUP BY: {bad}"
            )
    elif group_by:
        raise SparqlError("GROUP BY without any aggregate projection")
    if having and not aggs:
        raise SparqlError("HAVING without any aggregate projection")
    g0 = groups[0] if len(groups) == 1 else {
        "patterns": [], "optional": [], "not_exists": [], "exists": [],
        "filters": [], "values": [], "binds": [], "minus": [],
        "optional_groups": [], "exists_groups": [], "not_exists_groups": [],
        "subselects": [],
    }
    return {
        "distinct": distinct,
        "select": select_vars,  # empty means *
        "from_graphs": from_graphs,
        "from_named": from_named,
        "select_exprs": select_exprs,
        "aggs": aggs,
        "group_by": group_by,
        "group_exprs": group_exprs,
        "having": having,
        "groups": groups,
        # single-group convenience views (authoritative form is "groups")
        "patterns": g0["patterns"],
        "optional": g0["optional"],
        "not_exists": g0["not_exists"],
        "filters": g0["filters"],
        "values": g0["values"],
        "order": order,
        "post_values": post_values,
        "limit": limit,
        "offset": offset,
    }


def _parse_values(p: _Parser) -> tuple[list[str], list[tuple[str, ...]]]:
    """``VALUES`` already consumed. Two forms: ``VALUES ?v { t1 t2 }``
    and ``VALUES (?v1 ?v2) { (a b) (c d) }``. ``UNDEF`` is rejected
    (the subset has no partial inline bindings)."""
    vars_: list[str] = []
    if p.peek() == "(":
        p.next()
        while p.peek() != ")":
            tok = p.next()
            if not tok.startswith("?"):
                raise SparqlError(f"VALUES expects variables, got {tok!r}")
            vars_.append(tok[1:])
        p.next()
    else:
        tok = p.next()
        if not tok.startswith("?"):
            raise SparqlError(f"VALUES expects a variable, got {tok!r}")
        vars_.append(tok[1:])
    if not vars_:
        raise SparqlError("VALUES binds no variables")
    p.expect("{")
    rows: list[tuple[str, ...]] = []
    while p.peek() != "}":
        if p.peek() is None:
            raise SparqlError("unclosed VALUES block")
        if len(vars_) == 1:
            row = [p.next()]
        else:
            p.expect("(")
            row = []
            while p.peek() != ")":
                row.append(p.next())
            p.next()
        if len(row) != len(vars_):
            raise SparqlError(
                f"VALUES row has {len(row)} terms for {len(vars_)} variables"
            )
        # UNDEF → None: that position is unconstrained for this row
        rows.append(
            tuple(None if t.upper() == "UNDEF" else _term(t) for t in row)
        )
    p.next()
    if not rows:
        raise SparqlError("VALUES block has no rows")
    return vars_, rows


def _parse_graph_block(p: _Parser, max_hops: int) -> dict:
    """``GRAPH <g> { ... }`` / ``GRAPH ?g { ... }``: parse the inner
    group and tag it with the graph constant or variable. The inner
    group's own closing ``}`` is consumed by the recursive parse."""
    p.expect("GRAPH")
    gtok = p.next()
    p.expect("{")
    inner = _parse_group(p, max_hops)
    if gtok.startswith("?"):
        if not gtok[1:]:
            raise SparqlError("empty GRAPH variable name")
        inner["graph_var"] = gtok[1:]
    else:
        inner["graph"] = _term(gtok)
    return inner


def _parse_group(p: _Parser, max_hops: int = PATH_MAX_HOPS) -> dict:
    """Parse a ``{ ... }`` group body (after the ``{``): returns a dict
    with keys ``patterns / optional / not_exists / filters / values``.
    Property paths are allowed in required patterns only. ``GRAPH <g>``
    or ``GRAPH ?g`` may wrap the whole group body (the engine's quad
    model: ``prov`` is the graph label, as in
    :mod:`search_spark.io.ntriples`); a constant graph compiles to a
    partition-prunable filter, a variable projects the label onto every
    pattern scan (same-graph join semantics, named graphs only). A
    ``GRAPH`` block may also sit *inside* a group beside plain patterns
    (SPARQL algebra: Join(BGP, Graph(...))) — it compiles to its own
    bindings DataFrame inner-joined on the shared variables."""
    first_graph = None
    if p.peek() is not None and p.peek().lower() == "graph":
        first_graph = _parse_graph_block(p, max_hops)
        if p.peek() == "}":  # GRAPH wraps the whole group body
            p.next()
            return first_graph
    g: dict = {"patterns": [], "optional": [], "not_exists": [],
               "exists": [], "filters": [], "values": [], "binds": [],
               "minus": [], "optional_groups": [], "exists_groups": [],
               "not_exists_groups": [], "subselects": [],
               "graph_groups": []}
    if first_graph is not None:
        g["graph_groups"].append(first_graph)

    def _sub_group(single_key: str, group_key: str) -> None:
        """A nested ``{ ... }`` body for OPTIONAL / FILTER [NOT] EXISTS:
        a single plain pattern stays on the match_bgp fast path; a full
        group (multiple patterns, filters, paths, ...) compiles to its
        own bindings DataFrame joined on the shared variables."""
        p.expect("{")
        og = _parse_group(p, max_hops)
        plain_only = (
            len(og["patterns"]) == 1
            and isinstance(og["patterns"][0][1], str)
            and og.get("graph") is None
            and not any(
                og[k]
                for k in og
                if k not in ("patterns", "graph")
            )
        )
        if plain_only:
            g[single_key].append(og["patterns"][0])
        else:
            g[group_key].append(og)

    while True:
        tok = p.peek()
        if tok is None:
            raise SparqlError("unclosed group block")
        if tok == "}":
            p.next()
            break
        if tok == ".":  # SPARQL allows an optional '.' after sub-blocks
            p.next()
            continue
        if tok.lower() == "optional":
            p.next()
            _sub_group("optional", "optional_groups")
        elif tok.lower() == "filter":
            p.next()
            if p.peek() and p.peek().lower() == "not":
                p.next()
                p.expect("EXISTS")
                _sub_group("not_exists", "not_exists_groups")
            elif p.peek() and p.peek().lower() == "exists":
                p.next()
                _sub_group("exists", "exists_groups")
            else:
                p.expect("(")
                g["filters"].append(_parse_filter_expr(p))
        elif tok.lower() == "values":
            p.next()
            g["values"].append(_parse_values(p))
        elif tok.lower() == "bind":
            p.next()
            g["binds"].append(_parse_bind(p))
        elif tok.lower() == "minus":
            p.next()
            p.expect("{")
            g["minus"].append(_parse_group(p, max_hops))
        elif tok.lower() == "graph":
            g["graph_groups"].append(_parse_graph_block(p, max_hops))
        elif tok == "{":
            # ``{ SELECT ... }`` — a SPARQL 1.1 subquery: evaluated first,
            # its projected bindings join the group on the shared vars
            p.next()
            if p.peek() is None or p.peek().lower() != "select":
                raise SparqlError(
                    "nested '{' inside a group must open a subquery "
                    "({ SELECT ... }) — use UNION at the WHERE top level "
                    "for group alternation"
                )
            g["subselects"].append(
                _parse_select_body(p, max_hops, subquery=True)
            )
            p.expect("}")
        else:
            g["patterns"].extend(_parse_pattern_list(p, paths=True,
                                                     max_hops=max_hops))
    if not g["patterns"] and not g["subselects"] and not g["graph_groups"]:
        raise SparqlError("group has no required triple pattern")
    plain = [pt for pt in g["patterns"] if isinstance(pt[1], str)]
    if not plain and (g["optional"] or g["not_exists"]):
        raise SparqlError(
            "OPTIONAL / FILTER NOT EXISTS need at least one plain "
            "required pattern alongside property-path patterns"
        )
    return g


def _parse_where_body(
    p: _Parser, max_hops: int = PATH_MAX_HOPS
) -> list[dict]:
    """After the WHERE ``{``: either one plain group, or a UNION chain
    ``{ g } UNION { g } ...`` spanning the whole body. Returns the list
    of group dicts (length 1 for the plain case)."""
    if p.peek() != "{":
        return [_parse_group(p, max_hops)]
    groups = []
    while True:
        p.expect("{")
        if p.peek() is not None and p.peek().lower() == "select":
            # a subquery directly under WHERE (or as a UNION branch):
            # wrap it as a group whose only member is the subselect
            g = {"patterns": [], "optional": [], "not_exists": [],
                 "exists": [], "filters": [], "values": [], "binds": [],
                 "minus": [], "optional_groups": [], "exists_groups": [],
                 "not_exists_groups": [],
                 "subselects": [_parse_select_body(p, max_hops,
                                                   subquery=True)]}
            p.expect("}")
            groups.append(g)
        else:
            groups.append(_parse_group(p, max_hops))
        if p.peek() is not None and p.peek().lower() == "union":
            p.next()
            continue
        break
    p.expect("}")
    return groups


def _compile_path_pattern(
    triples: DataFrame, subj: str, expr: PathExpr, obj: str
) -> DataFrame:
    """Evaluate one property-path pattern to a bindings DataFrame.

    A constant end seeds the evaluation (the paths operator propagates
    the frontier, so only the reachable subgraph is touched); a constant
    *object* seeds the algebraically flipped path rather than filtering a
    fully materialized relation. Two variables materialize the full
    distinct pair set — the documented unseeded cost."""
    svar, ovar = subj.startswith("?"), obj.startswith("?")
    if not svar and not ovar:
        raise SparqlError(
            "property-path pattern needs at least one variable end"
        )
    spark = triples.sparkSession
    if not svar:
        seed = local_df(spark, [(subj,)], "src string")
        pairs = eval_path(triples, expr, seed)
        return pairs.select(F.col("dst").alias(obj[1:])).distinct()
    if not ovar:
        seed = local_df(spark, [(obj,)], "src string")
        pairs = eval_path(triples, normalize(expr, flip=True), seed)
        return pairs.select(F.col("dst").alias(subj[1:])).distinct()
    pairs = eval_path(triples, expr)
    if subj == obj:  # cycle query: both ends bind one variable
        return (
            pairs.filter(F.col("src") == F.col("dst"))
            .select(F.col("src").alias(subj[1:]))
            .distinct()
        )
    return pairs.select(
        F.col("src").alias(subj[1:]), F.col("dst").alias(obj[1:])
    )


#: separator for composite (graph, node) ids in GRAPH ?var paths; a
#: C0 control char no realistic term contains (splits on the FIRST
#: occurrence, so a node containing it still round-trips)
_GSEP = "\x1f"


def _compile_path_pattern_graph(
    triples: DataFrame, subj: str, expr: PathExpr, obj: str, gvar: str
) -> DataFrame:
    """Property-path pattern inside ``GRAPH ?gvar``: evaluate over
    composite ``graph<US>node`` ids so every hop stays within one named
    graph by construction (edges never connect different graphs), then
    split the label back out as the ``?gvar`` binding column. Constant
    ends seed once per named graph, so zero-length closure yields the
    per-graph §18.4 pairs. Same frontier plans as the plain case —
    the composite id only widens the join keys, it adds no shuffle."""
    svar, ovar = subj.startswith("?"), obj.startswith("?")
    if not svar and not ovar:
        raise SparqlError(
            "property-path pattern needs at least one variable end"
        )
    edges = triples.filter(F.col("prov").isNotNull()).select(
        F.concat_ws(_GSEP, "prov", "subj").alias("subj"),
        "pred",
        F.concat_ws(_GSEP, "prov", "obj").alias("obj"),
    )

    def graph_of(c):
        return F.substring_index(c, _GSEP, 1)

    def node_of(c):
        return F.col(c).substr(
            F.instr(F.col(c), _GSEP) + 1, F.lit(1 << 30)
        )

    def seed_for(const: str) -> DataFrame:
        return (
            triples.filter(F.col("prov").isNotNull())
            .select(F.col("prov")).distinct()
            .select(F.concat_ws(_GSEP, "prov", F.lit(const)).alias("src"))
        )

    if not svar:
        pairs = eval_path(edges, expr, seed_for(subj))
        return pairs.select(
            graph_of("dst").alias(gvar), node_of("dst").alias(obj[1:])
        ).distinct()
    if not ovar:
        pairs = eval_path(edges, normalize(expr, flip=True), seed_for(obj))
        return pairs.select(
            graph_of("dst").alias(gvar), node_of("dst").alias(subj[1:])
        ).distinct()
    pairs = eval_path(edges, expr)
    if subj == obj:
        return (
            pairs.filter(F.col("src") == F.col("dst"))
            .select(graph_of("src").alias(gvar),
                    node_of("src").alias(subj[1:]))
            .distinct()
        )
    return pairs.select(
        graph_of("src").alias(gvar),
        node_of("src").alias(subj[1:]),
        node_of("dst").alias(obj[1:]),
    )


def _join_values(out: DataFrame, vars_: list[str], rows: list[tuple],
                 spark) -> DataFrame:
    """Join a VALUES block's inline rows onto the bindings.

    UNDEF (``None``) positions are unconstrained: partition the data
    rows by which variables they define, broadcast-join each slice on
    exactly those columns, and union the slices — one output row per
    (binding, compatible VALUES row), as in the SPARQL join. No-UNDEF
    blocks stay a single broadcast inner join. Shared by in-group
    ``VALUES`` and the trailing (post-WHERE) form — a NULL join key
    would silently drop rows instead of leaving them unconstrained.
    """
    from pyspark.sql import types as T

    missing = [v for v in vars_ if v not in out.columns]
    if missing:
        raise SparqlError(f"VALUES variables never bound: {missing}")
    by_mask: dict[tuple[int, ...], list[tuple]] = {}
    for row in rows:
        mask = tuple(i for i, t in enumerate(row) if t is not None)
        by_mask.setdefault(mask, []).append(row)
    pieces = []
    for mask, mrows in sorted(by_mask.items()):
        if not mask:
            # an all-UNDEF row is compatible with every binding
            pieces.extend([out] * len(mrows))
            continue
        cols = [vars_[i] for i in mask]
        vdf = local_df(
            spark,
            [tuple(r[i] for i in mask) for r in mrows],
            T.StructType(
                [T.StructField(c, T.StringType()) for c in cols]
            ),
        )
        pieces.append(out.join(F.broadcast(vdf), on=cols, how="inner"))
    out = pieces[0]
    for piece in pieces[1:]:
        out = out.unionByName(piece)
    return out


def _parse_dataset_clauses(p: _Parser) -> tuple[list[str], list[str]]:
    """``FROM <g>`` / ``FROM NAMED <g>`` clauses (SPARQL 1.1 §13.2),
    any number, any order. Returns ``(from_graphs, from_named)``."""
    from_graphs: list[str] = []
    from_named: list[str] = []
    while p.peek() is not None and p.peek().lower() == "from":
        p.next()
        named = p.peek() is not None and p.peek().lower() == "named"
        if named:
            p.next()
        gtok = p.next()
        if gtok is None or gtok.startswith("?"):
            raise SparqlError(
                f"FROM{' NAMED' if named else ''} takes a constant graph "
                f"IRI, got {gtok!r}"
            )
        (from_named if named else from_graphs).append(_term(gtok))
    return from_graphs, from_named


def _parse_using_clauses(p: _Parser) -> tuple[list[str], list[str]]:
    """``USING <g>`` / ``USING NAMED <g>`` clauses (SPARQL 1.1 Update
    §3.1.3) — the update-side FROM / FROM NAMED. Returns
    ``(using, using_named)``."""
    using: list[str] = []
    using_named: list[str] = []
    while p.peek() is not None and p.peek().lower() == "using":
        p.next()
        named = p.peek() is not None and p.peek().lower() == "named"
        if named:
            p.next()
        gtok = p.next()
        if gtok is None or gtok.startswith("?"):
            raise SparqlError(
                f"USING{' NAMED' if named else ''} takes a constant "
                f"graph IRI, got {gtok!r}"
            )
        (using_named if named else using).append(_term(gtok))
    return using, using_named


def _update_where_table(existing: DataFrame, groups: list[dict],
                        with_graph: str | None, using: list[str],
                        using_named: list[str]) -> DataFrame:
    """The table an update's WHERE evaluates against. USING / USING
    NAMED construct the dataset exactly like FROM / FROM NAMED and
    override WITH; WITH alone makes its graph the active default graph
    while the named-graph set stays the full store (§3.1.3: GRAPH
    blocks still see every named graph). No clause: the store's
    convenience view (plain patterns match all quads)."""
    if using or using_named:
        _mark_default_graph(groups)
        return _apply_dataset(existing, using, using_named)
    if with_graph is not None:
        if "prov" not in existing.columns:
            raise SparqlError(
                "WITH needs a 'prov' column on the triple table "
                "(the engine's graph label)"
            )
        _mark_default_graph(groups)
        return (
            existing.filter(F.col("prov") == with_graph)
            .withColumn("prov", F.lit(None).cast("string"))
            .unionByName(existing.filter(F.col("prov").isNotNull()))
        )
    return existing


def _apply_dataset(triples: DataFrame, from_graphs: list[str],
                   from_named: list[str]) -> DataFrame:
    """Construct the active dataset for ``FROM`` / ``FROM NAMED``
    clauses over the engine's quad model (``prov`` = graph label).

    The active default graph is the set union of the ``FROM`` graphs —
    their quads re-labeled ``prov = NULL`` — and the active named-graph
    set is exactly the ``FROM NAMED`` graphs (quads keep their label).
    With only ``FROM``, ``GRAPH`` blocks match nothing; with only
    ``FROM NAMED``, plain patterns match nothing — both per spec.
    Plain-pattern scans are restricted to the default graph via
    :func:`_mark_default_graph`. Each membership test is one
    partition-prunable ``isin`` filter; no shuffle is added."""
    if not from_graphs and not from_named:
        return triples
    if "prov" not in triples.columns:
        raise SparqlError(
            "FROM / FROM NAMED need a 'prov' column on the triple "
            "DataFrame (the engine's graph label)"
        )
    parts = []
    if from_graphs:
        parts.append(
            triples.filter(F.col("prov").isin(from_graphs))
            .withColumn("prov", F.lit(None).cast("string"))
        )
    if from_named:
        parts.append(triples.filter(F.col("prov").isin(from_named)))
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


def _mark_default_graph(groups) -> None:
    """Flag every group outside a ``GRAPH`` block to scan only the
    active default graph (``prov IS NULL``) — required once dataset
    clauses construct the dataset, where the no-clause convenience of
    matching plain patterns against the union of all quads would leak
    named-graph rows. Recurses into nested groups and subqueries;
    ``GRAPH``-scoped groups keep their own (named-graph) filters."""
    for g in groups:
        if g.get("graph") is not None or g.get("graph_var") is not None:
            continue
        g["graph_default"] = True
        for kind in ("optional_groups", "exists_groups",
                     "not_exists_groups", "minus"):
            _mark_default_graph(g.get(kind, ()))
        for sq in g.get("subselects", ()):
            _mark_default_graph(sq.get("groups", ()))


def _compile_group(triples: DataFrame, g: dict) -> DataFrame:
    """One group: BGP joins, then property-path joins, then VALUES
    broadcast joins, then BINDs, FILTERs and MINUS anti-joins. Path
    patterns join the plain-BGP
    bindings on their shared variables (fail-loud when disconnected —
    same no-cartesian rule as the BGP operator)."""
    if g.get("graph") is not None:
        if "prov" not in triples.columns:
            raise SparqlError(
                "GRAPH needs a 'prov' column on the triple DataFrame "
                "(the engine's graph label)"
            )
        # partition-prunable constant filter ahead of every pattern scan
        triples = triples.filter(F.col("prov") == g["graph"])
    gvar = g.get("graph_var")
    if gvar is not None:
        if "prov" not in triples.columns:
            raise SparqlError(
                "GRAPH ?var needs a 'prov' column on the triple "
                "DataFrame (the engine's graph label)"
            )
        # nested groups (OPTIONAL / [NOT] EXISTS / MINUS) stay scoped to
        # the same named graph: their scans must carry ?gvar too
        for kind in ("optional_groups", "exists_groups",
                     "not_exists_groups", "minus"):
            for og in g.get(kind, ()):
                og.setdefault("graph_var", gvar)
    # under dataset clauses (FROM / FROM NAMED, or UPDATE's WITH/USING)
    # a group outside GRAPH scans only the active default graph. Nested
    # groups keep the full dataset: they were marked (or GRAPH-scoped)
    # themselves by _mark_default_graph, so a nested GRAPH block still
    # sees the named graphs.
    nested_tbl = triples
    if g.get("graph_default"):
        if "prov" not in triples.columns:
            raise SparqlError(
                "dataset clauses need a 'prov' column on the triple "
                "DataFrame (the engine's graph label)"
            )
        triples = triples.filter(F.col("prov").isNull())
    plain = [pt for pt in g["patterns"] if isinstance(pt[1], str)]
    path_patterns = [pt for pt in g["patterns"]
                     if not isinstance(pt[1], str)]
    if gvar is not None and g.get("subselects"):
        raise SparqlError(
            "subqueries inside GRAPH ?var are not supported "
            "(constant graph IRIs only)"
        )
    out = None
    if plain:
        out = match_bgp(
            triples, plain, optional=g["optional"],
            not_exists=g["not_exists"], graph_var=gvar,
            optimize=_OPTIMIZE.get(),
        )
    for subj, expr, obj in path_patterns:
        if gvar is not None:
            pdf = _compile_path_pattern_graph(triples, subj, expr, obj,
                                              gvar)
        else:
            pdf = _compile_path_pattern(triples, subj, expr, obj)
        if out is None:
            out = pdf
            continue
        shared = sorted(set(out.columns) & set(pdf.columns))
        if not shared:
            raise SparqlError(
                "property-path pattern shares no variable with the "
                "other patterns (cartesian products are not supported)"
            )
        out = out.join(pdf, on=shared, how="inner")
    for sq in g.get("subselects", ()):
        # bottom-up evaluation, as in the SPARQL algebra: the subquery
        # runs on the full (graph-restricted) triple table, then its
        # projected bindings hash-join the group on the shared variables
        sdf = _compile_select(nested_tbl, sq)
        if out is None:
            out = sdf
            continue
        shared = sorted(set(out.columns) & set(sdf.columns))
        if not shared:
            raise SparqlError(
                "subquery shares no variable with the enclosing group "
                "(cartesian products are not supported)"
            )
        out = out.join(sdf, on=shared, how="inner")
    for og in g.get("graph_groups", ()):
        # a GRAPH block beside other patterns: Join(P, Graph(g, P'))
        # per the SPARQL algebra — compile the block on the full
        # (dataset-constructed) table, then hash-join on shared vars
        gdf = _compile_group(nested_tbl, og)
        if out is None:
            out = gdf
            continue
        shared = sorted(set(out.columns) & set(gdf.columns))
        if not shared:
            raise SparqlError(
                "GRAPH block shares no variable with the enclosing "
                "group (cartesian products are not supported)"
            )
        out = out.join(gdf, on=shared, how="inner")
    for pt in g["exists"]:
        edf = match_bgp(triples, [pt], graph_var=gvar)
        shared = sorted(set(out.columns) & set(edf.columns))
        if not shared:
            raise SparqlError(
                "FILTER EXISTS pattern shares no variable with the group"
            )
        out = out.join(edf.select(*shared), on=shared, how="left_semi")
    for kind, how in (
        ("optional_groups", "left"),
        ("exists_groups", "left_semi"),
        ("not_exists_groups", "left_anti"),
    ):
        for og in g.get(kind, ()):
            odf = _compile_group(nested_tbl, og)
            shared = sorted(set(out.columns) & set(odf.columns))
            if not shared:
                raise SparqlError(
                    "nested OPTIONAL / FILTER [NOT] EXISTS group shares "
                    "no variable with the outer group"
                )
            if how != "left":
                odf = odf.select(*shared).distinct()
            out = out.join(odf, on=shared, how=how)
    for vars_, rows in g["values"]:
        out = _join_values(out, vars_, rows, triples.sparkSession)
    for expr_ast, var in g["binds"]:
        if var in out.columns:
            raise SparqlError(f"BIND target ?{var} is already bound")
        out = out.withColumn(var, _compile_bind_expr(expr_ast))
    for ast in g["filters"]:
        out, ast, markers = _attach_exists_markers(
            out, ast, nested_tbl, gvar
        )
        out = out.filter(_compile_filter(ast))
        if markers:
            out = out.drop(*markers)
    for mg in g["minus"]:
        mdf = _compile_group(nested_tbl, mg)
        shared = sorted(set(out.columns) & set(mdf.columns))
        if not shared:
            # SPARQL MINUS with disjoint domains removes nothing
            continue
        out = out.join(
            mdf.select(*shared).distinct(), on=shared, how="left_anti"
        )
    return out


def _compile_where(triples: DataFrame, groups: list[dict]) -> DataFrame:
    """Compile a WHERE body (one group, or a UNION chain). Branch-local
    variables surface as NULL in rows from the other branches
    (``unionByName(allowMissingColumns=True)``); the post-union distinct
    keeps the module-wide set semantics."""
    out = _compile_group(triples, groups[0])
    for g in groups[1:]:
        out = out.unionByName(
            _compile_group(triples, g), allowMissingColumns=True
        )
    if len(groups) > 1:
        out = out.distinct()
    return out


def sparql_query(triples: DataFrame, query: str,
                 path_max_hops: int = PATH_MAX_HOPS,
                 optimize: bool = False):
    """Dispatch on the SPARQL query form.

    * ``SELECT`` → bindings DataFrame (see :func:`sparql_select`),
    * ``CONSTRUCT { template } WHERE { ... }`` → derived
      ``(subj, pred, obj)`` DataFrame (template instantiation over the
      FILTERed bindings, incomplete instantiations dropped),
    * ``ASK { ... }`` → Python bool (LocalLimit short-circuit),
    * ``DESCRIBE <resource>`` → one OR-of-equalities scan, provenance
      columns pass through; ``DESCRIBE ?v WHERE { ... }`` → semi-joins
      against the variable's bindings.
    """
    head = _tokenize(query)[0].lower()
    if head == "select":
        return sparql_select(triples, query, path_max_hops,
                             optimize=optimize)
    if head == "construct":
        return _sparql_construct(triples, query, path_max_hops)
    if head == "ask":
        p = _Parser(_tokenize(query))
        p.expect("ASK")
        from_graphs, from_named = _parse_dataset_clauses(p)
        if p.peek() is not None and p.peek().lower() == "where":
            p.next()
        p.expect("{")
        groups = _parse_where_body(p, path_max_hops)
        if p.peek() is not None:
            raise SparqlError(f"unexpected trailing token {p.peek()!r}")
        if from_graphs or from_named:
            _mark_default_graph(groups)
            triples = _apply_dataset(triples, from_graphs, from_named)
        return _compile_where(triples, groups).limit(1).count() > 0
    if head == "describe":
        from search_spark.operators.bgp import describe, describe_bound

        toks = _tokenize(query)
        if len(toks) == 2 and not toks[1].startswith("?"):
            return describe(triples, _term(toks[1]))
        if len(toks) > 2 and all(
            not t.startswith("?")
            and t not in "{}()"
            and t.lower() not in ("where", "from", "named")
            for t in toks[1:]
        ):
            # DESCRIBE <r1> <r2> ... — the union description, via one
            # semi-join against the inline resource set (no per-resource
            # loop)
            rdf = local_df(
                triples.sparkSession, [(_term(t),) for t in toks[1:]],
                "r string",
            )
            return describe_bound(triples, rdf)
        # DESCRIBE ?v WHERE { ... } — the variable's WHERE-restricted
        # bindings become the resource set (position-wise semi-joins,
        # no OR-join, no collect)
        p = _Parser(toks)
        p.expect("DESCRIBE")
        var = p.next()
        if not var.startswith("?"):
            raise SparqlError(
                "DESCRIBE takes one constant resource, or one variable "
                "plus a WHERE group"
            )
        from_graphs, from_named = _parse_dataset_clauses(p)
        p.expect("WHERE")
        p.expect("{")
        groups = _parse_where_body(p, path_max_hops)
        if p.peek() is not None:
            raise SparqlError(f"unexpected trailing token {p.peek()!r}")
        if from_graphs or from_named:
            _mark_default_graph(groups)
            # the WHERE dataset is clause-built; the description itself
            # still reads the full store (DESCRIBE output is
            # implementation-defined, §16.4)
            bindings = _compile_where(
                _apply_dataset(triples, from_graphs, from_named), groups
            )
        else:
            bindings = _compile_where(triples, groups)
        if var[1:] not in bindings.columns:
            raise SparqlError(f"DESCRIBE variable never bound: {var}")
        return describe_bound(triples, bindings.select(var[1:]))
    raise SparqlError(f"unsupported query form {head!r}")


def _sparql_construct(triples: DataFrame, query: str,
                      path_max_hops: int = PATH_MAX_HOPS) -> DataFrame:
    from search_spark.operators.bgp import instantiate_template

    p = _Parser(_tokenize(query))
    p.expect("CONSTRUCT")
    if p.peek() is not None and p.peek().lower() == "where":
        # SPARQL 1.1 ``CONSTRUCT WHERE { bgp }`` shorthand: the template
        # IS the pattern set. The spec restricts the body to a basic
        # graph pattern — enforced below (single group, patterns only).
        p.next()
        p.expect("{")
        groups = _parse_where_body(p, path_max_hops)
        if p.peek() is not None:
            raise SparqlError(f"unexpected trailing token {p.peek()!r}")
        if len(groups) != 1:
            raise SparqlError("CONSTRUCT WHERE takes a single plain group")
        g = groups[0]
        extras = [k for k, v in g.items()
                  if k not in ("patterns", "graph") and v]
        if extras or g.get("graph") is not None:
            raise SparqlError(
                "CONSTRUCT WHERE allows only triple patterns in the body "
                "(use the explicit-template form for anything else)"
            )
        template = [pt for pt in g["patterns"] if isinstance(pt[1], str)]
        if len(template) != len(g["patterns"]):
            raise SparqlError(
                "CONSTRUCT WHERE cannot template a property path"
            )
        bindings = _compile_where(triples, groups)
        return _instantiate(bindings, template)
    p.expect("{")
    template: list[tuple[str, str, str]] = []
    while p.peek() != "}":
        template.extend(_parse_pattern_list(p))
    p.expect("}")
    from_graphs, from_named = _parse_dataset_clauses(p)
    p.expect("WHERE")
    p.expect("{")
    groups = _parse_where_body(p, path_max_hops)
    if p.peek() is not None:
        raise SparqlError(f"unexpected trailing token {p.peek()!r}")
    if not template:
        raise SparqlError("empty CONSTRUCT template")
    if from_graphs or from_named:
        _mark_default_graph(groups)
        triples = _apply_dataset(triples, from_graphs, from_named)
    bindings = _compile_where(triples, groups)
    return _instantiate(bindings, template)


def sparql_select(triples: DataFrame, query: str,
                  path_max_hops: int = PATH_MAX_HOPS,
                  optimize: bool = False) -> DataFrame:
    """Compile and run a SPARQL SELECT against a ``(subj, pred, obj)``
    DataFrame. Returns one column per selected variable.

    ``optimize=True`` feeds every BGP through :func:`match_bgp`'s
    selectivity-based greedy join ordering (one predicate-count
    statistics aggregate per query — worth it for multi-pattern
    queries over large stores, pure overhead for point lookups, hence
    opt-in). Results are order-independent; only the plan changes."""
    tok = _OPTIMIZE.set(optimize)
    try:
        return _compile_select(triples, parse_select(query, path_max_hops))
    finally:
        _OPTIMIZE.reset(tok)


def to_sparql_results_json(rows: list, columns: list[str]) -> dict:
    """Serialize collected SELECT rows as the W3C SPARQL 1.1 Query
    Results JSON Format. The engine's quad model stores every term as a
    plain string, so all bound values serialize as ``"type": "literal"``
    (there is no IRI/literal distinction to recover); NULL (an unbound
    OPTIONAL variable) omits the binding, per the spec. Driver-side by
    design — callers pass an already-limited, request-sized result."""
    bindings = []
    for r in rows:
        d = r.asDict() if hasattr(r, "asDict") else dict(zip(columns, r))
        bindings.append({
            k: {"type": "literal", "value": str(v)}
            for k, v in d.items() if v is not None
        })
    return {"head": {"vars": list(columns)},
            "results": {"bindings": bindings}}


def to_sparql_results_tsv(rows: list, columns: list[str]) -> str:
    """Serialize collected SELECT rows as SPARQL 1.1 Query Results TSV:
    ``?var``-prefixed header, one row per binding, unbound values
    empty. Tabs/newlines inside values are escaped as ``\\t`` / ``\\n``
    so the row structure stays parseable."""
    def esc(v) -> str:
        if v is None:
            return ""
        return (str(v).replace("\\", "\\\\")
                .replace("\t", "\\t").replace("\n", "\\n"))

    lines = ["\t".join(f"?{c}" for c in columns)]
    for r in rows:
        d = r.asDict() if hasattr(r, "asDict") else dict(zip(columns, r))
        lines.append("\t".join(esc(d.get(c)) for c in columns))
    return "\n".join(lines) + "\n"


def to_sparql_results_xml(rows: list, columns: list[str],
                          boolean: bool | None = None) -> str:
    """Serialize as the W3C SPARQL Query Results XML Format: either a
    SELECT result set (``rows`` + ``columns``) or an ASK ``boolean``.
    Same plain-literal model as the JSON serializer; unbound values
    omit the binding element."""
    from xml.sax.saxutils import escape

    out = ['<?xml version="1.0"?>',
           '<sparql xmlns="http://www.w3.org/2005/sparql-results#">']
    if boolean is not None:
        out.append("  <head/>")
        out.append(f"  <boolean>{'true' if boolean else 'false'}</boolean>")
        out.append("</sparql>")
        return "\n".join(out) + "\n"
    out.append("  <head>")
    for c in columns:
        out.append(f'    <variable name="{escape(c)}"/>')
    out.append("  </head>")
    out.append("  <results>")
    for r in rows:
        d = r.asDict() if hasattr(r, "asDict") else dict(zip(columns, r))
        out.append("    <result>")
        for k, v in d.items():
            if v is None:
                continue
            out.append(
                f'      <binding name="{escape(k)}">'
                f"<literal>{escape(str(v))}</literal></binding>"
            )
        out.append("    </result>")
    out.append("  </results>")
    out.append("</sparql>")
    return "\n".join(out) + "\n"


def _expr_vars(e: tuple) -> set[str]:
    """Variables referenced anywhere in a value-expression AST."""
    if e[0] == "term":
        return {e[1][1]} if e[1][0] == "var" else set()
    if e[0] == "arith":
        return _expr_vars(e[2]) | _expr_vars(e[3])
    if e[0] == "if":
        _, (_, cl, cr), then_e, else_e = e
        return (_expr_vars(cl) | _expr_vars(cr)
                | _expr_vars(then_e) | _expr_vars(else_e))
    return set().union(*(_expr_vars(a) for a in e[2])) if e[2] else set()


def _apply_select_exprs(out: DataFrame, q: dict) -> DataFrame:
    """Evaluate ``( expr AS ?alias )`` projection expressions in order —
    after grouping when aggregates are present (so an expression may
    reference aggregate aliases, and a later expression an earlier one),
    fail-loud on unbound references."""
    for ast, alias in q.get("select_exprs", ()):
        unbound = _expr_vars(ast) - set(out.columns)
        if unbound:
            raise SparqlError(
                f"projection expression ?{alias} references unbound "
                f"variables: {sorted(unbound)}"
            )
        out = out.withColumn(alias, _compile_bind_expr(ast))
    return out


def _compile_select(triples: DataFrame, q: dict) -> DataFrame:
    """Compile a parsed SELECT dict (top-level query or subquery) to a
    DataFrame: WHERE bindings → aggregation → HAVING → projection →
    DISTINCT → ORDER/OFFSET/LIMIT."""
    triples = _apply_dataset(
        triples, q.get("from_graphs", ()), q.get("from_named", ())
    )
    out = _compile_where(triples, q["groups"])
    for vars_, rows in q.get("post_values", ()):
        # trailing VALUES: broadcast inner join against the inline rows
        # (UNDEF-aware), applied to the whole WHERE result before
        # grouping/projection
        out = _join_values(out, vars_, rows, triples.sparkSession)
    if q["aggs"]:
        for ast, alias in q.get("group_exprs", ()):
            # computed grouping keys bind first so aggregate arguments
            # and the GROUP BY list may reference them
            if alias in out.columns:
                raise SparqlError(
                    f"GROUP BY alias ?{alias} is already bound"
                )
            out = out.withColumn(alias, _compile_bind_expr(ast))
        for fn, _, arg, _, _ in q["aggs"]:
            if arg == "*":
                continue
            unbound = _expr_vars(arg) - set(out.columns)
            if unbound:
                raise SparqlError(
                    f"aggregate argument references unbound variables: "
                    f"{sorted(unbound)}"
                )
        missing = [v for v in q["group_by"] if v not in out.columns]
        if missing:
            raise SparqlError(f"GROUP BY variables never bound: {missing}")
        exprs = []
        for fn, agg_distinct, arg, alias, sep in q["aggs"]:
            col = None if arg == "*" else _compile_bind_expr(arg)
            if fn == "count":
                if arg == "*":
                    c = F.count(F.lit(1))
                elif agg_distinct:
                    c = F.countDistinct(col)
                else:
                    c = F.count(col)
            elif fn == "group_concat":
                # SPARQL leaves GROUP_CONCAT order implementation-defined;
                # sorting the collected values makes the result a pure
                # function of the group (hash-comparable across engines)
                collected = (
                    F.collect_set(col) if agg_distinct
                    else F.collect_list(col)
                )
                c = F.array_join(F.sort_array(collected), sep)
            elif fn == "sample":
                # SAMPLE is "any value"; MIN is a deterministic any-value
                # (and absorbs DISTINCT, which is the identity for it)
                c = F.min(col)
            else:
                if fn in ("sum", "avg") and not _numericish(arg):
                    # triple terms are strings; non-numeric ones must
                    # aggregate as NULL, not abort the scan (ANSI mode)
                    col = col.try_cast("double")
                if agg_distinct and fn == "sum":
                    c = F.sum_distinct(col)
                elif agg_distinct and fn == "avg":
                    # AVG DISTINCT = sum of distinct values over their
                    # count (no avg_distinct builtin)
                    c = F.sum_distinct(col) / F.count_distinct(col)
                else:
                    c = {"sum": F.sum, "min": F.min,
                         "max": F.max, "avg": F.avg}[fn](col)
            exprs.append(c.alias(alias))
        grouped = out.groupBy(*q["group_by"]) if q["group_by"] else out
        out = grouped.agg(*exprs)
        for ast in q.get("having", ()):
            # aggregate aliases are plain columns here, so HAVING shares
            # the FILTER expression grammar and compiler
            out = out.filter(_compile_filter(ast))
        out = _apply_select_exprs(out, q)
        out = out.select(*q["select"])
    elif q["select"]:
        out = _apply_select_exprs(out, q)
        missing = [v for v in q["select"] if v not in out.columns]
        if missing:
            raise SparqlError(f"SELECT variables never bound: {missing}")
        out = out.select(*q["select"])
        if q["distinct"]:
            out = out.distinct()
    else:  # SELECT * — blank-node variables are not projectable
        bn_cols = [c for c in out.columns if c.startswith(_BN)]
        if bn_cols:
            out = out.drop(*bn_cols)
        if q["distinct"]:
            out = out.distinct()
    if q["order"]:
        keys = []
        for v, d in q["order"]:
            if isinstance(v, str):
                col = F.col(v)
            else:  # ORDER BY DESC/ASC(expr) / (expr): a sort expression
                unbound = _expr_vars(v) - set(out.columns)
                if unbound:
                    raise SparqlError(
                        f"ORDER BY expression references unbound "
                        f"variables: {sorted(unbound)}"
                    )
                col = _compile_bind_expr(v)
            keys.append(col.desc() if d else col.asc())
        out = out.orderBy(*keys)
    if q["offset"] is not None:
        out = out.offset(q["offset"])
    if q["limit"] is not None:
        out = out.limit(q["limit"])
    return out


def _parse_const_quads(p: _Parser) -> list[tuple[str, str, str, str | None]]:
    """``{`` already consumed: constant triples, optionally wrapped in one
    ``GRAPH <g> { ... }`` block. Returns (subj, pred, obj, graph|None)."""
    graph = None
    if p.peek() is not None and p.peek().lower() == "graph":
        p.next()
        gtok = p.next()
        if gtok.startswith("?"):
            raise SparqlError("GRAPH term in update data must be constant")
        graph = _term(gtok)
        p.expect("{")
    quads = []
    while p.peek() not in (None, "}"):
        for s, pr, o in _parse_pattern_list(p):
            if any(t.startswith("?") for t in (s, pr, o)):
                raise SparqlError(
                    "INSERT/DELETE DATA takes constant triples only "
                    "(use DELETE WHERE for patterns)"
                )
            quads.append((s, pr, o, graph))
    p.expect("}")
    if graph is not None:
        p.expect("}")
    if not quads:
        raise SparqlError("update data block has no triples")
    return quads


def _append_aligned(table, df: DataFrame, op: str):
    """Schema-align update rows to the snapshot table (missing columns
    NULL, unknown columns fail-loud) and append as one snapshot. Returns
    ``None`` without committing when there is nothing to insert — a
    partitioned write of an empty DataFrame emits only ``_SUCCESS``, and
    an empty snapshot would be pure lineage noise."""
    existing = table.load()
    if existing is not None:
        missing = [f for f in existing.schema.fields
                   if f.name not in df.columns and f.name != "bucket"]
        for f in missing:
            df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        extra = [c for c in df.columns if c not in existing.columns]
        if extra:
            raise SparqlError(
                f"update columns not in the table schema: {extra}"
            )
    if df.isEmpty():
        return None
    return table.append(df, extra_metrics={"op": op})


def sparql_update(table, update: str) -> dict:
    """Apply a SPARQL UPDATE to a :class:`~search_spark.io.snapshots.
    SnapshotTable` of triples. Supported forms (fail-loud outside them):

    * ``INSERT DATA { [GRAPH <g> {] t1 . t2 ... [}] }`` — constant
      triples appended as one new snapshot (url-hash-bucketed parquet +
      lineage commit). The graph label lands in ``prov``; the bucketing
      ``url`` is the graph when given, else ``urn:sparql:update``. The
      new rows are schema-aligned to the table (missing columns NULL).
    * ``DELETE DATA { [GRAPH <g> {] t1 ... [}] }`` — copy-on-write
      delete of exactly those triples (``prov`` must also match when a
      graph is given).
    * ``DELETE WHERE { patterns }`` (optionally inside ``GRAPH <g>``) —
      deletes every triple matching the pattern(s). One pattern
      compiles to one pushed-down predicate per constant position — a
      single copy-on-write pass, never a join; multiple patterns take
      SPARQL's own expansion ``DELETE { P } WHERE { P }`` through the
      modify path below (join semantics).
    * ``[WITH <g>] DELETE { template } [INSERT { template }]
      [USING [NAMED] <g> ...] WHERE { group }`` —
      the full SPARQL 1.1 modify form: WHERE bindings evaluate once
      against the pre-update store (full SELECT-group surface), the
      DELETE template's instantiations are removed via anti-join
      copy-on-write (:meth:`SnapshotTable.delete_matching`, matching
      ``(subj, pred, obj)`` across all graphs), then the INSERT
      template's instantiations append under the default graph.
    * ``INSERT { template } WHERE { group }`` — SPARQL 1.1 templated
      insert (derive-and-append): the WHERE group compiles to bindings
      over the loaded table with the full SELECT-group surface
      (patterns, paths, OPTIONAL, FILTER, BIND, ...), the template
      instantiates per binding (NULL ends dropped, distinct), and the
      result appends as one snapshot under the default graph (NULL
      ``prov``, ``urn:sparql:update`` bucketing url). Appends are
      quad-level (no dedup against existing rows), same as INSERT DATA.
    * ``LOAD [SILENT] <file:...> [INTO GRAPH <g>]`` — parse a local
      N-Triples/N-Quads document — or, for a ``.ttl`` suffix, the
      engine's Turtle block dialect (:mod:`search_spark.io.ntriples`) —
      and append it as one snapshot; ``INTO GRAPH`` relabels every quad.
    * ``CREATE [SILENT] GRAPH <g>`` — validated no-op (quad stores have
      no empty-graph existence; a graph exists iff it has quads).
    * ``CLEAR/DROP [SILENT] GRAPH <g> | DEFAULT | NAMED | ALL`` — copy-on-write
      delete of the selected quads (graph label = ``prov``; DEFAULT is
      the NULL-``prov`` graph). DROP ≡ CLEAR here: with no empty-graph
      existence in a quad store, removing the quads removes the graph.
    * ``ADD/COPY/MOVE [GRAPH] <g1> TO [GRAPH] <g2>`` — graph management
      (§3.2.5-3.2.7): append g1's distinct triples into g2; COPY clears
      the destination first; MOVE also clears the source; ``DEFAULT``
      names the NULL-``prov`` default graph; same-graph calls no-op.

    Returns ``{"op", "n_rows"|"n_deleted", ...}``. Scale: INSERT DATA is
    query-sized by construction; INSERT WHERE is one declarative
    bindings plan plus a bucketed append; deletes rewrite only snapshots
    that actually contain matches (``delete_where`` skips clean ones)."""
    p = _Parser(_tokenize(update))
    head = p.next().lower()
    with_graph = None
    if head == "with":
        # WITH <g> (§3.1.3): <g> is both the WHERE's default graph
        # (unless USING overrides) and the graph the templates modify
        gtok = p.next()
        if gtok is None or gtok.startswith("?"):
            raise SparqlError("WITH takes a constant graph IRI")
        with_graph = _term(gtok)
        head = p.next().lower()
        if head not in ("delete", "insert"):
            raise SparqlError(
                "WITH must be followed by DELETE or INSERT"
            )
    if head == "insert":
        if p.peek() is not None and p.peek().lower() == "data":
            if with_graph is not None:
                raise SparqlError(
                    "WITH does not apply to INSERT DATA (use "
                    "GRAPH inside the data block)"
                )
            p.next()
            p.expect("{")
            quads = _parse_const_quads(p)
            if p.peek() is not None:
                raise SparqlError(
                    f"unexpected trailing token {p.peek()!r}"
                )
            rows = [
                (s, pr, o, g, g if g is not None else "urn:sparql:update")
                for s, pr, o, g in quads
            ]
            df = local_df(
                table.spark, rows,
                "subj string, pred string, obj string, prov string,"
                " url string",
            )
            info = _append_aligned(table, df, "sparql_insert_data")
            return {"op": "insert_data", "n_rows": info.n_rows,
                    "snapshot_id": info.snapshot_id}
        # INSERT { template } WHERE { group } — derive-and-append: the
        # WHERE bindings compile to the usual declarative plan over the
        # loaded table, the template instantiates per binding (NULL ends
        # dropped, distinct), and the result appends as one snapshot.
        # Query-shaped driver work only; the data path is all DataFrame.
        p.expect("{")
        template = []
        while p.peek() not in (None, "}"):
            template.extend(_parse_pattern_list(p))
        if not template:
            raise SparqlError("INSERT template has no triples")
        p.expect("}")
        using, using_named = _parse_using_clauses(p)
        p.expect("WHERE")
        p.expect("{")
        groups = _parse_where_body(p, PATH_MAX_HOPS)
        if p.peek() is not None:
            raise SparqlError(f"unexpected trailing token {p.peek()!r}")
        existing = table.load()
        if existing is None:
            raise SparqlError("INSERT ... WHERE needs a populated table")
        where_tbl = _update_where_table(
            existing, groups, with_graph, using, using_named
        )
        bindings = _compile_where(where_tbl, groups)
        new_triples = _instantiate(bindings, template)
        # destination: WITH's graph when given, else the default graph
        # (NULL prov), with the graph (or urn:sparql:update) as the
        # bucketing url — same conventions as INSERT DATA
        df = new_triples.withColumn(
            "prov", F.lit(with_graph).cast("string")
        ).withColumn(
            "url", F.lit(with_graph or "urn:sparql:update")
        )
        info = _append_aligned(table, df, "sparql_insert_where")
        if info is None:  # WHERE matched nothing: no-op, no snapshot
            return {"op": "insert_where", "n_rows": 0, "snapshot_id": None}
        return {"op": "insert_where", "n_rows": info.n_rows,
                "snapshot_id": info.snapshot_id}
    if head == "load":
        # LOAD [SILENT] <file:...> [INTO GRAPH <g>] (§3.1.4): parse the
        # document with the engine's N-Triples/N-Quads reader and append
        # it as one snapshot. Local file IRIs only (no network in this
        # engine); the source IRI becomes the bucketing url. INTO GRAPH
        # overrides every quad's graph label; otherwise triples keep
        # their own labels (NULL for plain triples).
        silent = False
        if p.peek() is not None and p.peek().lower() == "silent":
            p.next()
            silent = True
        src_tok = p.next()
        if src_tok is None or src_tok.startswith("?"):
            raise SparqlError("LOAD takes a constant document IRI")
        src = _term(src_tok)
        into = None
        if p.peek() is not None and p.peek().lower() == "into":
            p.next()
            p.expect("GRAPH")
            gtok = p.next()
            if gtok is None or gtok.startswith("?"):
                raise SparqlError("INTO GRAPH takes a constant graph IRI")
            into = _term(gtok)
        if p.peek() is not None:
            raise SparqlError(f"unexpected trailing token {p.peek()!r}")
        path = re.sub(r"^file://", "", src) if src.startswith("file:") \
            else src
        path = re.sub(r"^file:", "", path)
        from search_spark.io.ntriples import read_ntriples, read_turtle
        try:
            # .ttl routes to the Turtle block reader (prov-less by
            # construction); everything else parses as N-Triples/N-Quads
            if path.rstrip("/").lower().endswith(".ttl"):
                df = read_turtle(table.spark, path).withColumn(
                    "prov", F.lit(None).cast("string")
                )
            else:
                df = read_ntriples(table.spark, path)
            if into is not None:
                df = df.withColumn("prov", F.lit(into))
            df = df.withColumn("url", F.lit(src))
            # the source file may sit on slow/remote storage: checkpoint
            # the parse so the bucketed append reads it exactly once
            df = df.transform(_ckpt(eager=True))
            if df.isEmpty() and _source_nonempty(path):
                # a non-empty document that parses to zero quads is a
                # format/suffix mismatch (e.g. Turtle named .nt feeding
                # the N-Triples regex) — surface it instead of silently
                # committing an empty load
                raise SparqlError(
                    f"LOAD parsed 0 quads from non-empty source {src!r}; "
                    "check the file format matches its suffix "
                    "(.ttl → Turtle, otherwise N-Triples/N-Quads)"
                )
        except Exception as e:
            if silent:
                return {"op": "load", "n_rows": 0, "snapshot_id": None,
                        "error": str(e).splitlines()[0][:200]}
            raise SparqlError(f"LOAD failed for {src!r}: {e}") from e
        info = _append_aligned(table, df, "sparql_load")
        if info is None:
            return {"op": "load", "n_rows": 0, "snapshot_id": None}
        return {"op": "load", "n_rows": info.n_rows,
                "snapshot_id": info.snapshot_id}
    if head == "create":
        # CREATE [SILENT] GRAPH <g> (§3.2.1): a quad store has no
        # empty-graph existence — a graph exists iff it has quads — so
        # creation is a no-op that only validates its argument.
        if p.peek() is not None and p.peek().lower() == "silent":
            p.next()
        p.expect("GRAPH")
        gtok = p.next()
        if gtok.startswith("?"):
            raise SparqlError("CREATE GRAPH takes a constant graph IRI")
        if p.peek() is not None:
            raise SparqlError(f"unexpected trailing token {p.peek()!r}")
        return {"op": "create_graph", "graph": _term(gtok), "n_rows": 0}
    if head in ("clear", "drop"):
        # DROP is CLEAR in a quad store with no empty-graph existence
        # (§3.2.2): removing a graph's quads IS removing the graph
        tok = p.next()
        if tok.lower() == "silent":
            tok = p.next()
        kind = tok.lower()
        if kind == "graph":
            gtok = p.next()
            if gtok.startswith("?"):
                raise SparqlError(
                    f"{head.upper()} GRAPH takes a constant graph IRI"
                )
            cond = F.col("prov") == _term(gtok)
        elif kind == "default":
            cond = F.col("prov").isNull()
        elif kind == "named":
            cond = F.col("prov").isNotNull()
        elif kind == "all":
            cond = F.lit(True)
        else:
            raise SparqlError(
                f"{head.upper()} takes GRAPH <g> / DEFAULT / NAMED / ALL"
            )
        if p.peek() is not None:
            raise SparqlError(f"unexpected trailing token {p.peek()!r}")
        return {"op": f"{head}_{'graph' if kind == 'graph' else kind}",
                "n_deleted": table.delete_where(cond)}
    if head in ("add", "copy", "move"):
        # graph management (SPARQL 1.1 Update §3.2.5-3.2.7):
        #   ADD g1 TO g2   — append g1's triples into g2 (g1 unchanged)
        #   COPY g1 TO g2  — g2 := g1 (destination cleared first)
        #   MOVE g1 TO g2  — COPY, then the source graph is cleared
        # DEFAULT names the default graph (NULL prov). Same-graph forms
        # are no-ops per spec.
        if p.peek() is not None and p.peek().lower() == "silent":
            p.next()

        def graph_ref() -> str | None:
            if p.peek() is not None and p.peek().lower() == "graph":
                p.next()
            tok = p.next()
            if tok.lower() == "default":
                return None
            if tok.startswith("?"):
                raise SparqlError(f"{head.upper()} takes constant graphs")
            return _term(tok)

        src = graph_ref()
        p.expect("TO")
        dst = graph_ref()
        if p.peek() is not None:
            raise SparqlError(f"unexpected trailing token {p.peek()!r}")
        if src == dst:
            return {"op": f"{head}_graph", "n_rows": 0,
                    "n_deleted": 0, "snapshot_id": None}
        existing = table.load()
        if existing is None:
            raise SparqlError(f"{head.upper()} needs a populated table")
        src_cond = (F.col("prov").isNull() if src is None
                    else F.col("prov") == src)
        dst_cond = (F.col("prov").isNull() if dst is None
                    else F.col("prov") == dst)
        # materialize the source triples BEFORE any rewrite touches the
        # directories the plan reads (graphs are triple sets: distinct)
        moved = existing.filter(src_cond).select(
            "subj", "pred", "obj"
        ).distinct().withColumn(
            "prov", F.lit(dst).cast("string")
        ).withColumn(
            "url", F.lit(dst if dst is not None else "urn:sparql:update")
        ).transform(_ckpt(eager=True))
        n_deleted = 0
        if head in ("copy", "move"):
            n_deleted += table.delete_where(dst_cond)
        info = _append_aligned(table, moved, f"sparql_{head}_graph")
        if head == "move":
            n_deleted += table.delete_where(src_cond)
        return {"op": f"{head}_graph",
                "n_rows": 0 if info is None else info.n_rows,
                "n_deleted": n_deleted,
                "snapshot_id": None if info is None else info.snapshot_id}
    if head != "delete":
        raise SparqlError(f"unsupported update form {head!r}")
    nxt = p.next().lower()
    if with_graph is not None and nxt != "{":
        raise SparqlError(
            "WITH applies to the modify form only "
            "(DELETE { tpl } [INSERT { tpl }] WHERE { group })"
        )
    if nxt == "data":
        p.expect("{")
        quads = _parse_const_quads(p)
        if p.peek() is not None:
            raise SparqlError(f"unexpected trailing token {p.peek()!r}")
        cond = None
        for s, pr, o, g in quads:
            c = (
                (F.col("subj") == s)
                & (F.col("pred") == pr)
                & (F.col("obj") == o)
            )
            if g is not None:
                c = c & (F.col("prov") == g)
            cond = c if cond is None else (cond | c)
        return {"op": "delete_data", "n_deleted": table.delete_where(cond)}
    if nxt == "{":
        # SPARQL 1.1 modify: DELETE { tpl } [INSERT { tpl }] WHERE { group }
        del_template = _parse_update_template(p, "DELETE")
        ins_template = None
        if p.peek() is not None and p.peek().lower() == "insert":
            p.next()
            p.expect("{")
            ins_template = _parse_update_template(p, "INSERT")
        using, using_named = _parse_using_clauses(p)
        p.expect("WHERE")
        p.expect("{")
        groups = _parse_where_body(p, PATH_MAX_HOPS)
        if p.peek() is not None:
            raise SparqlError(f"unexpected trailing token {p.peek()!r}")
        return _apply_modify(table, del_template, ins_template, groups,
                             with_graph, using, using_named)
    if nxt != "where":
        raise SparqlError(f"unsupported update form DELETE {nxt!r}")
    p.expect("{")
    graph = None
    if p.peek() is not None and p.peek().lower() == "graph":
        p.next()
        gtok = p.next()
        if gtok.startswith("?"):
            raise SparqlError("DELETE WHERE graph term must be constant")
        graph = _term(gtok)
        p.expect("{")
    pats = _parse_update_template(p, "DELETE WHERE")
    if graph is not None:
        p.expect("}")
    if p.peek() is not None:
        raise SparqlError(f"unexpected trailing token {p.peek()!r}")
    if len(pats) > 1:
        # DELETE WHERE { P1 . P2 } == DELETE { P1 . P2 } WHERE { P1 . P2 }
        # (SPARQL 1.1 Update §3.1.3) — join semantics, via the modify path
        if graph is not None:
            raise SparqlError(
                "multi-pattern DELETE WHERE does not take GRAPH"
            )
        return _apply_modify(table, pats, None, [_plain_group(pats)])
    # one pattern: each constant position compiles to one pushed-down
    # predicate — a single copy-on-write pass, never a join
    s, pr, o = pats[0]
    cond = F.lit(True)
    for colname, term in (("subj", s), ("pred", pr), ("obj", o)):
        if not term.startswith("?"):
            cond = cond & (F.col(colname) == term)
    if graph is not None:
        cond = cond & (F.col("prov") == graph)
    return {"op": "delete_where", "n_deleted": table.delete_where(cond)}


def _parse_update_template(p: _Parser, what: str) -> list[tuple]:
    """``{`` already consumed: plain triple patterns (variables allowed,
    property paths not) up to the closing ``}``, which is consumed."""
    template = []
    while p.peek() not in (None, "}"):
        for pat in _parse_pattern_list(p):
            if not isinstance(pat[1], str):
                raise SparqlError(
                    f"{what} templates do not take property paths"
                )
            if what.startswith("DELETE") and any(
                t.startswith("?" + _BN) for t in pat
            ):
                # §3.1.3: blank nodes are disallowed in DELETE templates
                raise SparqlError(
                    f"{what} templates cannot contain blank nodes"
                )
            template.append(pat)
    p.expect("}")
    if not template:
        raise SparqlError(f"{what} template has no triples")
    return template


def _plain_group(patterns: list[tuple]) -> dict:
    """A bare group dict (as :func:`_parse_group` would return) holding
    only required patterns."""
    return {"patterns": list(patterns), "optional": [], "not_exists": [],
            "exists": [], "filters": [], "values": [], "binds": [],
            "minus": [], "optional_groups": [], "exists_groups": [],
            "not_exists_groups": [], "subselects": []}


def _bind_template_bnodes(bindings: DataFrame,
                          template: list[tuple]) -> DataFrame:
    """Blank nodes in a CONSTRUCT / INSERT template mint one fresh node
    per solution (SPARQL 1.1 §16.2.1): bind each template-only
    blank-node variable to a label derived from the solution row
    (xxhash64 over every binding column), so the same solution reuses
    one node across the template and distinct solutions get distinct
    nodes — all JVM-side, no per-row Python."""
    labels = sorted({
        t[1:] for entry in template for t in entry
        if t.startswith("?" + _BN) and t[1:] not in bindings.columns
    })
    if not labels:
        return bindings
    row_hash = F.xxhash64(*[F.col(c) for c in bindings.columns])
    for lbl in labels:
        bindings = bindings.withColumn(
            lbl,
            F.concat(F.lit(f"_:{lbl[len(_BN):]}"),
                     F.abs(row_hash).cast("string")),
        )
    return bindings


def _instantiate(bindings: DataFrame, template: list[tuple]) -> DataFrame:
    """instantiate_template with its ValueErrors (unbound template
    variable, malformed entry) surfaced as SparqlError; template-only
    blank nodes are minted per solution first."""
    bindings = _bind_template_bnodes(bindings, template)
    try:
        return instantiate_template(bindings, template)
    except SparqlError:
        raise
    except ValueError as e:
        raise SparqlError(str(e)) from e


def _apply_modify(table, del_template: list[tuple],
                  ins_template: list[tuple] | None, groups: list[dict],
                  with_graph: str | None = None,
                  using: list[str] = (), using_named: list[str] = (),
                  ) -> dict:
    """Execute ``DELETE { tpl } [INSERT { tpl }] WHERE { group }``:
    evaluate the WHERE bindings ONCE against the pre-update store,
    instantiate both templates from those bindings, apply the delete,
    then the insert (SPARQL 1.1 Update §3.1.3 ordering).

    The derived doomed/new triples are eagerly materialized
    (``checkpoints.truncate`` (strategy-switchable: localCheckpoint or
    reliable file checkpoint — see search_spark/checkpoints.py)) before any rewrite — their lazy plans read the
    very snapshot directories the delete swaps out. Deletes match on
    ``(subj, pred, obj)`` across all graphs (the store's default-graph
    view is the union of its quads); inserts land under the default
    graph (NULL ``prov``), same as ``INSERT ... WHERE``. Under
    ``WITH <g>`` both templates target graph ``g`` only (deletes match
    ``prov`` too, inserts label ``prov = g``) and the WHERE's default
    graph is ``g``; ``USING [NAMED]`` rebuilds the WHERE dataset like
    ``FROM [NAMED]`` and overrides WITH's WHERE effect. Scale: one
    declarative bindings plan, one anti-join rewrite per snapshot, one
    bucketed append — no per-binding driver work."""
    existing = table.load()
    if existing is None:
        raise SparqlError("DELETE/INSERT ... WHERE needs a populated table")
    where_tbl = _update_where_table(
        existing, groups, with_graph, list(using), list(using_named)
    )
    bindings = _compile_where(where_tbl, groups)
    doomed = _instantiate(bindings, del_template)
    ins_df = None
    if ins_template is not None:
        ins_df = _instantiate(bindings, ins_template).withColumn(
            "prov", F.lit(with_graph).cast("string")
        ).withColumn("url", F.lit(with_graph or "urn:sparql:update"))
        ins_df = ins_df.transform(_ckpt(eager=True))
    if with_graph is not None:
        # WITH restricts the modification to its graph: match prov too
        doomed = doomed.withColumn("prov", F.lit(with_graph))
        n_deleted = table.delete_matching(
            doomed, on=("subj", "pred", "obj", "prov")
        )
    else:
        n_deleted = table.delete_matching(doomed)
    out = {"op": "modify", "n_deleted": n_deleted}
    if ins_df is not None:
        info = _append_aligned(table, ins_df, "sparql_modify_insert")
        out["n_rows"] = 0 if info is None else info.n_rows
        out["snapshot_id"] = None if info is None else info.snapshot_id
    return out
