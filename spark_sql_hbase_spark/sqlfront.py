"""SQL statement router for keyed tables — the PySpark-native analogue of
the reference's plan rewrites.

The reference injects ``HBaseStrategies`` into the session state so that
``INSERT INTO`` over an HBase table becomes ``InsertIntoHBaseTable``
(``HBaseStrategies.scala:243-260`` → ``execution/InsertIntoHBaseTable.scala:
31-123``) and CTAS becomes ``CreateHBaseTableAsSelectCommand``
(``execution/CreateHBaseTableAsSelectCommand.scala:18-88``).  PySpark cannot
inject Catalyst strategies, so the same dispatch happens one level up, on
the same typed plan: the router parses each statement with Spark's own
parser (``sessionState.sqlParser.parsePlan``) and swaps in the keyed
behaviour by plan node class — ``InsertIntoStatement``, ``CreateTable`` /
``CreateTableAsSelect`` with provider ``keyed``, ``AddColumns``,
``SetTableProperties``, ``DeleteFromTable``, ``UpdateTable``,
``MergeIntoTable``, ``DropTable``, ``TruncateTable``,
``SetNamespaceProperties``, ``DropNamespace`` and ``ShowTables`` — when
the node's target names a *registered keyed table* (or a namespace
holding one), routing it through
:class:`~spark_sql_hbase_spark.sources.keyed_parquet.KeyedTableStore`.
Every other statement — SELECT, SHOW, USE, EXPLAIN, and all DML over
non-keyed tables — passes through to Spark untouched, exactly as the
reference keeps the stock strategy stack for everything it doesn't
override.  Operands (targets, column lists, types, options, conditions,
SET values, source queries) come from the parsed nodes; a source query or
condition is the exact statement text under its node's origin span.

Four statement forms are the router's own and have no Spark grammar, so
they are matched before parsing: ``SCAN <t> PAGE n``, ``SIMILARITY
JOIN``, ``NEAR DUPLICATES`` and ``CREATE INDEX`` — plus ``EXPLAIN`` of
these and the bare ``SELECT COUNT(*) FROM <keyed>`` fast path, which is
answered from metadata without a parse.

Read-path note: routed writes are visible to plain ``spark.sql`` because the
store registers every keyed table in the session catalog as an external
parquet table inside its namespace database (``pw.test`` resolves
dot-qualified; ``SHOW DATABASES`` / ``SHOW TABLES`` list namespaces —
reference ``HBaseSessionCatalog.scala:63-102``).  In manifest-authority
mode no catalog TABLE can be correct (a directory scan is not the
membership), so the router itself resolves registered ``ns.name`` — and,
under ``USE ns``, bare — table references to the membership-aware temp
views at dispatch time (:func:`resolve_keyed_dotted_names`): the same
seam the reference's ``HBaseSessionCatalog.lookupRelation`` occupies, where
the session's OWN catalog resolves the name before stock Spark sees it.

Why not ``CREATE TABLE ... USING keyedtable`` (the Python DataSource) in
the session catalog instead?  Tried: DDL works, but on ``INSERT INTO`` a
catalog-backed Python DataSource writer receives an EMPTY options map
(verified against pyspark 4.1 — ``DataSource.options`` is ``{}`` in the
catalog write path, so the writer cannot locate its storage), and the
write path would bypass row-key generation regardless.  External parquet
catalog tables (read path, full pushdown, vectorized scan) + this router
(write path, keyed semantics) cover both halves with stock Spark.

Scale: routing costs one driver-side parse per statement (about 1 ms
over py4j on a 4-vCPU VM) plus, in manifest-authority mode, a walk of the
parsed plan; the data path of every routed statement is the store's
range-partitioned, key-sorted bulk write — no per-row driver work.
"""

from __future__ import annotations

import re

from py4j.java_gateway import get_field
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_sql_hbase_spark.catalog import ROW_KEY, TableSpec

_IDENT = r"(?:`[^`]+`|[A-Za-z_][\w]*)"
_QUALIFIED = rf"{_IDENT}(?:\s*\.\s*{_IDENT}){{0,2}}"

# -- router-owned statement forms (no Spark grammar) -------------------------
_CREATE_INDEX_RE = re.compile(
    rf"^\s*create\s+index\s+(?P<ine>if\s+not\s+exists\s+)?"
    rf"(?P<idx>{_QUALIFIED})\s+on\s+(?:table\s+)?(?P<target>{_QUALIFIED})\s*"
    rf"\(\s*(?P<col>`[^`]+`|[\w:]+)\s*\)\s*"
    rf"(?:include\s*\((?P<inc>[^)]*)\)\s*)?"
    rf"(?:options\s*\((?P<opts>[^)]*)\)\s*)?$",
    re.IGNORECASE | re.DOTALL,
)
_SIMJOIN_RE = re.compile(
    rf"^\s*similarity\s+join\s+(?P<corpus>{_QUALIFIED})\s+"
    rf"with\s+(?P<queries>\(.*\)|{_QUALIFIED})\s+"
    rf"on\s+(?P<vec>`[^`]+`|[\w:]+)\s+by\s+(?P<id>`[^`]+`|[\w:]+)\s+"
    rf"top\s+(?P<k>\d+)"
    rf"(?:\s+method\s+(?P<method>[A-Za-z0-9_]+))?"
    rf"(?:\s+model\s+(?P<model>\(.*\)|{_QUALIFIED}))?"
    rf"(?:\s+books\s+(?P<books>\(.*\)|{_QUALIFIED}))?"
    rf"(?:\s+probes\s+(?P<probes>\d+))?"
    rf"(?:\s+dim\s+(?P<dim>\d+))?"
    rf"(?:\s+(?P<residual>residual))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_NEARDUP_RE = re.compile(
    rf"^\s*near\s+duplicates\s+in\s+(?P<src>\(.*\)|{_QUALIFIED})\s+"
    rf"on\s+(?P<text>`[^`]+`|[\w:]+)\s+by\s+(?P<id>`[^`]+`|[\w:]+)"
    rf"(?:\s+threshold\s+(?P<t>\d*\.\d+|\d+))?"
    rf"(?:\s+shingle\s+(?P<n>\d+))?"
    rf"(?:\s+method\s+(?P<method>[A-Za-z0-9_]+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
# scanner paging through the SQL surface: the reference's Scan.setLimit +
# withStartRow pairing — SCAN <table> PAGE <n> [AFTER '<key>'].  The
# cursor literal follows the SQL-standard doubled-quote escape, so a row
# key containing a quote stays expressible
_SCAN_PAGE_RE = re.compile(
    rf"^\s*scan\s+(?P<target>{_QUALIFIED})\s+page\s+(?P<n>\d+)"
    rf"(?:\s+after\s+'(?P<after>(?:[^']|'')*)')?\s*$",
    re.IGNORECASE,
)
# bare unfiltered count — the ONE select shape served from metadata
# (any WHERE/GROUP BY/second column/subquery goes to Spark):
# SELECT COUNT(*|1) [AS alias] FROM <table>
_BARE_COUNT_RE = re.compile(
    rf"^\s*select\s+count\s*\(\s*(?:\*|1)\s*\)\s*"
    rf"(?:as\s+(?P<alias>`[^`]+`|\w+)\s*)?"
    rf"from\s+(?P<target>{_QUALIFIED})\s*$",
    re.IGNORECASE,
)
# each form's grammar, quoted when a statement starting with its keyword
# does not match
_SCAN_GRAMMAR = "SCAN <table> PAGE <n> [AFTER '<last row_key>']"
_NEARDUP_GRAMMAR = (
    "NEAR DUPLICATES IN <table|(subquery)> ON <text_col> BY <id_col> "
    "[THRESHOLD <t>] [SHINGLE <n>] [METHOD MINHASH|EXACT]"
)
_SIMJOIN_GRAMMAR = (
    "SIMILARITY JOIN <corpus> WITH <queries|(subquery)> ON <vec_col> BY "
    "<id_col> TOP <k> [METHOD BRUTE|SQ8|IVF|PQ|IVFADC] "
    "[MODEL <table|(subquery)>] [BOOKS <table|(subquery)>] "
    "[PROBES <n>] [DIM <n>] [RESIDUAL]"
)
_OPTION_KV_RE = re.compile(r"(\w+)\s*=\s*'([^']*)'")

_EXPLAIN_RE = re.compile(
    r"^\s*explain\s+(?:(?P<mode>formatted|extended|codegen|cost|simple)\s+)?"
    r"(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
# column clauses a keyed TableSpec has no place for: (clause, accessor)
_CREATE_COLUMN_CLAUSES = (
    ("COMMENT", "comment"), ("DEFAULT", "defaultValue"),
    ("GENERATED ALWAYS AS", "generationExpression"),
    ("IDENTITY", "identityColumnSpec"),
)
_ADD_COLUMN_CLAUSES = (
    ("COMMENT", "comment"), ("DEFAULT", "default"), ("FIRST / AFTER", "position"),
)
_KEYED_PROVIDERS = ("keyed", "keyedtable")  # CREATE TABLE ... USING <provider>
# parsed nodes that name a table or namespace by ``multipartIdentifier``
_NAMED_NODES = frozenset(
    {"UnresolvedRelation", "UnresolvedTable", "UnresolvedTableOrView",
     "UnresolvedNamespace"}
)
# relation parents after which ``AS <name>`` is not valid grammar (or an
# explicit alias already exists): the statement root (``TABLE t``), an
# alias, TABLESAMPLE (which precedes the alias slot) and command targets
_NO_ALIAS_PARENTS = frozenset(
    {None, "SubqueryAlias", "Sample", "CacheTable", "UncacheTable",
     "InsertIntoStatement"}
)
# Spark refuses the table/namespace property keys its catalog reserves
# (owner, location, ...); a keyed table's property bag reserves none
_UNRESERVED = "spark.sql.legacy.notReserveProperties"


def _split_top_level_books(blob: str) -> tuple[str, str | None]:
    """Recover a ``MODEL (subquery) BOOKS <ref>`` pair the regex's
    greedy subquery capture swallowed into one blob: split at the
    first depth-0 ``books`` keyword outside string literals.  A blob
    with no top-level ``books`` returns ``(blob, None)`` — the word
    inside a subquery (a column named books) never splits."""
    depth, i, n = 0, 0, len(blob)
    low = blob.lower()
    while i < n:
        c = blob[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "'":
            j = blob.find("'", i + 1)
            i = n if j == -1 else j
        elif (
            depth == 0
            and low.startswith("books", i)
            and (i == 0 or not (low[i - 1].isalnum() or low[i - 1] == "_"))
            and (
                i + 5 >= n
                or not (low[i + 5].isalnum() or low[i + 5] == "_")
            )
        ):
            return blob[:i].rstrip(), blob[i + 5 :].strip()
        i += 1
    return blob, None


def _seq(coll) -> list:
    """A Scala Seq of the parsed plan as a Python list."""
    return [coll.apply(i) for i in range(coll.size())]


def _span(node) -> tuple[int, int] | None:
    """Inclusive statement offsets a parsed node was built from."""
    o = node.origin()
    a, b = o.startIndex(), o.stopIndex()
    return (a.get(), b.get()) if a.isDefined() and b.isDefined() else None


def _text(stmt: str, node) -> str:
    a, b = _span(node)
    return stmt[a : b + 1]


def _target(node) -> list[str] | None:
    """Name parts of the table or namespace a parsed node refers to
    (through an alias); None for anything else (a subquery, the
    current namespace)."""
    kind = node.nodeName()
    if kind == "SubqueryAlias":
        return _target(node.child())
    if kind == "UnresolvedIdentifier":
        return _seq(node.nameParts())
    if kind in _NAMED_NODES:
        return _seq(node.multipartIdentifier())
    return None


def _unquote(ident: str) -> str:
    ident = ident.strip()
    return ident[1:-1] if ident.startswith("`") and ident.endswith("`") else ident


def _parts(ref: str) -> list[str]:
    """Name parts of a ``_QUALIFIED`` reference in a router-owned form."""
    return [_unquote(p) for p in re.findall(_IDENT, ref)]


def _split_qualified(parts: list[str], spark: SparkSession) -> tuple[str, str]:
    """``[catalog.]ns.table`` name parts → (ns, table); a bare name
    resolves against the current database (the reference's ``use pw``
    flow, ``README.md:55``).  A leading SESSION-catalog qualifier is
    dropped so ``spark_catalog.pw.t`` routes identically to ``pw.t``.  Any
    other catalog qualifier stays part of the namespace, so
    ``othercat.pw.t`` can never shadow the keyed ``pw.t`` — it falls
    through to Spark's own catalog resolution."""
    if len(parts) > 2 and parts[0].lower() == "spark_catalog":
        parts = parts[1:]
    if len(parts) == 1:
        return spark.catalog.currentDatabase(), parts[0]
    return ".".join(parts[:-1]), parts[-1]


def _column(col, name: str, clauses) -> tuple[str, str]:
    """``(name, type)`` of a parsed column definition.  A clause a keyed
    :class:`TableSpec` has no place for raises rather than being dropped."""
    given = [c for c, attr in clauses if getattr(col, attr)().isDefined()]
    if not col.nullable() or given:
        raise ValueError(
            f"keyed column {name!r}: {(given or ['NOT NULL'])[0]} is not "
            "supported (a keyed table spec stores a column's name and type)"
        )
    return name, col.dataType().simpleString()


def _spec_from_columns(
    ns: str, name: str, cols: list[tuple[str, str]], options: dict[str, str]
) -> TableSpec:
    """Build a TableSpec from ``(column, type)`` pairs.  Columns follow the
    reference's data model: ``row_key`` plus ``cf:qualifier`` names
    (``SparkHBaseConstants.java:7-8``); a bare column name lands in the
    default family ``cf`` keeping its qualifier."""
    key_type = "string"
    families: dict[str, dict[str, str]] = {}
    for col, typ in cols:
        if col == ROW_KEY:
            key_type = typ
            continue
        cf, _, qual = col.partition(":")
        if not qual:
            cf, qual = "cf", col
        families.setdefault(cf, {})[qual] = typ
    split_keys = [s for s in options.get("split_keys", "").split(",") if s]
    return TableSpec(
        namespace=ns,
        name=name,
        key_type=key_type,
        families=families,
        generator=options.get("generator"),
        split_keys=split_keys,
        # every other OPTIONS pair is a table property (e.g. the HBase
        # CF attribute `bloomfilter 'ROW'`) — same bag TBLPROPERTIES
        # updates land in
        properties={
            k: v
            for k, v in options.items()
            if k not in ("generator", "split_keys")
        },
    )


def _dot_after(chain: str, n: int) -> int:
    """Offset of the ``n``-th name separator of a dotted identifier chain
    (dots inside backtick-quoted parts do not separate)."""
    seen, tick = 0, False
    for i, c in enumerate(chain):
        if c == "`":
            tick = not tick
        elif c == "." and not tick:
            seen += 1
            if seen == n:
                return i
    return len(chain)


def resolve_keyed_dotted_names(
    stmt: str,
    plan,
    is_keyed,
    view_of,
    current_db: str | None = None,
    bare_shadowed=None,
) -> str:
    """Session-boundary name resolution — the PySpark seam where the
    reference's ``HBaseSessionCatalog.lookupRelation``
    (``HBaseSessionCatalog.scala:63-102``) resolves ``ns.table``
    through ITS catalog rather than stock Spark's: rewrite each table
    reference of ``plan`` (Spark's parse of ``stmt``) that names a
    REGISTERED keyed table into the membership-aware temp-view name.

    The references are the plan's ``UnresolvedRelation`` nodes (and the
    ``UnresolvedTableOrView`` of DESCRIBE-style commands), found through
    ``children``, ``innerChildren`` (CTE bodies, IN / EXISTS subqueries)
    and an EXPLAIN's plan; each node's origin is the reference's exact
    span, so literals, comments, column names and function names are
    never touched.  Recognized names: ``ns.name``,
    ``spark_catalog.ns.name`` and — with ``current_db`` — a bare
    ``name`` (the ``USE ns`` flow, reference ``README.md:55``).  A bare
    name ``bare_shadowed`` reports bound elsewhere (a temp view) keeps
    Spark's resolution.  A relation written without an alias gets
    ``AS `name``` appended so qualified column references (``name.col``)
    keep resolving; TABLESAMPLE and command targets take none.  A
    reference with a comment inside it is left untouched.  A second pass
    re-qualifies db-qualified COLUMN references (``ns.name.col``,
    ``ns.name.*``) of rewritten relations to the relation's alias.

    Used by the router in manifest-authority mode, where a session-
    catalog EXTERNAL table cannot exist (a directory scan would include
    strays and miss reference-carried members, and pyspark's catalog
    path hands a Python DataSource an empty options map — see the
    module docstring).  The temp views read through the store's
    membership-aware path and are re-registered on every DML, so each
    statement resolves the CURRENT generation's manifest listing.
    Driver-side walk of the parsed plan, zero storage ops."""
    edits: dict[tuple[int, int], str] = {}
    rewritten, nodes = set(), []

    def visit(node, parent) -> None:
        kind = node.nodeName()
        if kind not in ("UnresolvedRelation", "UnresolvedTableOrView"):
            nodes.append(node)
            kids = _seq(node.children()) + _seq(node.innerChildren())
            if kind == "ExplainCommand":
                kids.append(node.logicalPlan())
            for kid in kids:
                visit(kid, kind)
            return
        names = _target(node)
        if len(names) == 3 and names[0].lower() == "spark_catalog":
            names = names[1:]
        if len(names) == 2:
            pair = tuple(names)
        elif len(names) == 1 and current_db:
            pair = (current_db, names[0])
        else:
            return
        a, b = _span(node)
        if (
            not is_keyed(*pair)
            or (len(names) == 1 and bare_shadowed and bare_shadowed(names[0]))
            # rewriting a reference with a comment inside would drop it
            or any("/*" in p or "--" in p for p in stmt[a : b + 1].split("`")[::2])
        ):
            return
        alias = kind == "UnresolvedRelation" and parent not in _NO_ALIAS_PARENTS
        edits[(a, b)] = f"`{view_of(*pair)}`" + (f" AS `{pair[1]}`" if alias else "")
        rewritten.add(pair)

    visit(plan, None)
    # db-qualified column references (ns.name.col, ns.name.*) of a
    # rewritten relation re-qualify to its alias
    leaves = [
        leaf
        for node in (nodes if rewritten else [])
        for expr in _seq(node.expressions())
        for leaf in _seq(expr.collectLeaves())
    ]
    for leaf in leaves:
        kind = leaf.nodeName()
        if kind == "UnresolvedAttribute":
            parts = _seq(leaf.nameParts())
        elif kind == "UnresolvedStar" and leaf.target().isDefined():
            parts = _seq(leaf.target().get()) + ["*"]
        else:
            continue
        cut = 3 if len(parts) > 3 and parts[0].lower() == "spark_catalog" else 2
        pair = tuple(parts[cut - 2 : cut])
        if len(parts) > cut and pair in rewritten:
            a, b = _span(leaf)
            edits[(a, a + _dot_after(stmt[a : b + 1], cut) - 1)] = f"`{pair[1]}`"

    out, last = [], 0
    for (a, b), rep in sorted(edits.items()):
        out += [stmt[last:a], rep]
        last = b + 1
    return "".join(out + [stmt[last:]])


class KeyedSqlRouter:
    """Dispatch SQL statements: keyed-table DML/DDL → store, rest → Spark.

    A parsed statement whose root node class is in :attr:`_TARGETS` and
    targets a registered keyed table runs through its ``_store_<class>``
    handler.  CREATE TABLE ... USING keyed, SHOW TABLES and the
    namespace statements go to a ``_route_<class>`` handler that
    decides for itself (None: not keyed).  Everything else goes to
    Spark."""

    # parsed node class → accessor of the table the statement targets
    _TARGETS = {
        "InsertIntoStatement": "table",
        "AddColumns": "table",
        "SetTableProperties": "table",
        "DeleteFromTable": "table",
        "UpdateTable": "table",
        "MergeIntoTable": "targetTable",
        "DropTable": "child",
        "TruncateTable": "table",
    }

    def __init__(self, store):
        self.store = store
        self.spark: SparkSession = store.spark
        state = self.spark._jsparkSession.sessionState()
        self._parser = state.sqlParser()
        self._conf = state.conf()
        jvm = self.spark._jvm
        self._substitution = jvm.org.apache.spark.sql.internal.VariableSubstitution()
        self._grammar = jvm.org.apache.spark.sql.catalyst.parser

    # -- helpers ----------------------------------------------------------
    def _is_keyed(self, ns: str, name: str) -> bool:
        return self.store.registry.exists(f"{ns}.{name}")

    def _keyed(self, node) -> str | None:
        """Qualified name of the registered keyed table ``node`` names."""
        parts = _target(node)
        if not parts:
            return None
        ns, name = _split_qualified(parts, self.spark)
        return f"{ns}.{name}" if self._is_keyed(ns, name) else None

    def _done(self) -> DataFrame:
        return self.spark.sql("SELECT 1 WHERE 1=0")  # empty result, like DDL

    def _substitute(self, stmt: str) -> str:
        """``stmt`` with its ``${var}`` references replaced, as Spark's
        parser replaces them before it parses.  Origin offsets point into
        this text, so the router parses, cuts and runs it rather than the
        raw statement (substituting it again is a no-op: Spark substitutes
        variable values recursively)."""
        return self._substitution.substitute(stmt) if "${" in stmt else stmt

    def _tokens(self, stmt: str):
        """Spark's lexer over ``stmt``; comments and whitespace are off
        the token channel."""
        antlr = self.spark._jvm.org.antlr.v4.runtime
        chars = self._grammar.UpperCaseCharStream(antlr.CharStreams.fromString(stmt))
        return antlr.CommonTokenStream(self._grammar.SqlBaseLexer(chars))

    def _parse(self, stmt: str):
        """Spark's own parse of ``stmt``.  Spark refuses the property keys
        its catalog reserves (``owner``, ``location``, ...) in the OPTIONS
        or properties list of a CREATE or ALTER statement.  For such a
        statement the check is lifted during this one parse, so it still
        yields its node; keyed targets then read the lists with every key
        kept (:meth:`_property_list`), and any other statement is parsed
        again by ``spark.sql`` under the session's own setting.  The lift
        is a session-wide conf change: another thread parsing in the same
        session meanwhile drops reserved keys instead of refusing them."""
        low = stmt.lower()
        if not ("properties" in low or "options" in low) or (
            self._tokens(stmt).LT(1).getText().lower() not in ("create", "alter")
        ):
            return self._parser.parsePlan(stmt)
        prev = self._conf.getConfString(_UNRESERVED, "false")
        self._conf.setConfString(_UNRESERVED, "true")
        try:
            return self._parser.parsePlan(stmt)
        finally:
            self._conf.setConfString(_UNRESERVED, prev)

    def _property_list(self, stmt: str) -> dict[str, str]:
        """The key/value lists of a CREATE TABLE (TBLPROPERTIES, then
        OPTIONS, which win) or an ``ALTER ... SET`` properties statement,
        every key kept: Spark's grammar tree of the statement, read with
        Spark's ``AstBuilder`` (the plan node's maps lack the keys Spark
        reserves)."""
        build = self._grammar.AstBuilder()
        node = self._grammar.SqlBaseParser(self._tokens(stmt))
        node = node.singleStatement().statement()
        if node.getClass().getSimpleName() == "CreateTableContext":
            clauses = node.createTableClauses()
            props = get_field(clauses, "tableProps")
            options = get_field(clauses, "options")
        else:
            props, options = node.propertyList(), None
        pairs = []
        if props is not None:
            pairs += _seq(build.visitPropertyKeyValues(props).toSeq())
        if options is not None:
            pairs += _seq(build.visitExpressionPropertyList(options).options())
        return {t._1(): str(t._2()) for t in pairs}

    def _query(self, text: str, plan=None) -> DataFrame:
        """``spark.sql(text)``.  In manifest-authority mode registered
        keyed names in ``text`` first resolve to their membership-aware
        temp views (:func:`resolve_keyed_dotted_names`) on Spark's parse
        of ``text`` (``plan`` when the caller has already substituted and
        parsed ``text``).  POSIX mode
        runs the text untouched — the session catalog's external tables
        resolve dot-qualified names natively there."""
        if self.store.manifest_authority:
            if plan is None:
                text = self._substitute(text)
                plan = self._parse(text)
            text = resolve_keyed_dotted_names(
                text,
                plan,
                self._is_keyed,
                lambda ns, name: self.store._view_name(
                    self.store.registry.get(f"{ns}.{name}")
                ),
                current_db=self.spark.catalog.currentDatabase(),
                bare_shadowed=self._catalog_shadows,
            )
        return self.spark.sql(text)

    def _conform(
        self, df: DataFrame, spec: TableSpec, listed: list[str]
    ) -> DataFrame:
        """Positional column mapping, with or without an explicit row_key
        (the reference's VALUES lists always carry the key slot, which the
        generator then overrides — ``README.md:58-66``).  An explicit
        ``(col, ...)`` list maps by the listed names instead."""
        names = listed or [f.name for f in spec.schema().fields]
        unknown = [c for c in names if c not in spec.column_names()]
        if unknown:
            raise ValueError(
                f"INSERT column(s) {unknown} not in {spec.qualified_name} "
                f"schema {sorted(spec.column_names())}"
            )
        if not listed and len(df.columns) == len(names) - 1:
            names = names[1:]
        if len(df.columns) != len(names):
            raise ValueError(
                f"INSERT arity mismatch for {spec.qualified_name}: "
                f"{len(df.columns)} values for columns {names}"
            )
        return df.toDF(*names)

    def _catalog_shadows(self, target: str) -> bool:
        """True when a catalog relation the router did NOT create
        shadows the bare table name under Spark's resolution precedence:
        the bare-name fast paths serve the relation a plain ``SELECT *``
        would read, so they must defer to ANY same-bare-name binding the
        user made themselves — a temp view (both storage modes), or, in
        manifest-authority mode, a permanent catalog table or view (the
        store owns NO session-catalog entries there, so every catalog
        hit is user-created).  In POSIX mode a non-temporary hit is the
        keyed table's OWN external registration (db == namespace), so
        it is not a shadow.  Qualified ``ns.name`` references stay
        registry-resolved — the reference's ``lookupRelation`` seam —
        and ``global_temp.x`` never resolves bare in Spark, so neither
        reaches this check."""
        bare = _unquote(target)
        if "." in bare:
            return False
        try:
            t = self.spark.catalog.getTable(bare)
        except Exception:
            return False
        if t.tableType == "TEMPORARY":
            return True
        return bool(getattr(self.store, "manifest_authority", False))

    def _rel(self, ref: str) -> DataFrame:
        """Resolve a router-form table reference — ``(subquery)`` or a
        (possibly dot-qualified) name — through :meth:`_query`, so keyed
        tables work in both storage modes and plain views/tables pass
        straight through.  The one source-resolution seam shared by
        every rewriting router form (SIMILARITY JOIN, NEAR DUPLICATES)."""
        ref = ref.strip()
        if ref.startswith("("):
            return self._query(ref[1:-1])
        return self._query(f"SELECT * FROM {ref}")

    def _scan_page(self, m) -> DataFrame:
        """``SCAN <table> PAGE <n> [AFTER '<key>']`` — the reference's
        scanner-paging pairing (Scan.setLimit + withStartRow(lastKey,
        exclusive)) surfaced in SQL: the next page of rows in key order
        strictly after the cursor — key-bounded, so every page costs the
        same at any depth (an OFFSET pager re-scans the prefix).  Pages
        may close SHORT at a file-span boundary; resume from the
        returned page's last row_key (quote it SQL-style: '' for ')."""
        ns, name = _split_qualified(_parts(m.group("target")), self.spark)
        if not self._is_keyed(ns, name):
            raise ValueError(
                f"SCAN targets a registered keyed table; {ns}.{name} "
                "is not one (plain relations page with ordinary "
                "SELECT ... ORDER BY ... LIMIT)"
            )
        after = m.group("after")
        return self.store.scan_page(
            f"{ns}.{name}",
            int(m.group("n")),
            after.replace("''", "'") if after is not None else None,
        )

    def _near_duplicates(self, m) -> DataFrame:
        """``NEAR DUPLICATES`` — the dedup family's SQL surface at the
        same router seam (and with the same provably-no-semantics
        contract) as ``SIMILARITY JOIN``: the statement rewrites to the
        DataFrame near-dup operators and the gate hashes against the
        operator gate's own oracle.

            NEAR DUPLICATES IN <table | (subquery)>
                ON <text_col> BY <id_col>
                [THRESHOLD <t>] [SHINGLE <n>] [METHOD MINHASH|EXACT]

        METHOD MINHASH (default) is
        :func:`~spark_sql_hbase_spark.operators.dedup.minhash_lsh_join`
        — LSH band candidates + exact Jaccard verification of
        candidates only (the 100 TB path: candidate volume, not corpus
        square).  METHOD EXACT is
        :func:`~...dedup.ngram_jaccard_join` — the inverted-index
        exact join, for when the corpus is small enough to verify
        everything.  Both return ``(id_a, id_b, jac)`` with jac
        rounded to 4 (the shared determinism law), thresholded at
        THRESHOLD (default 0.6) over SHINGLE-gram shingles (default
        3).  The source resolves through :meth:`_rel`, so keyed
        tables work in both storage modes."""
        from spark_sql_hbase_spark.operators import dedup

        src = self._rel(m.group("src"))
        id_col = _unquote(m.group("id"))
        text_col = _unquote(m.group("text"))
        threshold = float(m.group("t")) if m.group("t") else 0.6
        n = int(m.group("n")) if m.group("n") else 3
        method = (m.group("method") or "minhash").lower()
        if method == "minhash":
            return dedup.minhash_lsh_join(src, id_col, text_col, threshold, n)
        if method == "exact":
            return dedup.ngram_jaccard_join(src, id_col, text_col, threshold, n)
        raise ValueError(
            f"unknown NEAR DUPLICATES method {method.upper()}; "
            "supported: MINHASH (LSH candidates + exact verify), "
            "EXACT (inverted-index Jaccard join)"
        )

    def _similarity_join(self, m) -> DataFrame:
        """``SIMILARITY JOIN`` — SURVEY §7.2 P6's optional SQL syntax,
        implemented at the router seam (the same dispatch level as the
        reference's plan rewrites, ``HBaseStrategies.scala:243-260``)
        instead of a Catalyst parser extension: the statement rewrites
        to the DataFrame ANN operator family.

            SIMILARITY JOIN <corpus> WITH <queries | (subquery)>
                ON <vec_col> BY <id_col> TOP <k>
                [METHOD BRUTE|SQ8|IVF|PQ|IVFADC]
                [MODEL <table | (subquery)>]
                [BOOKS <table | (subquery)>]
                [PROBES <n>] [DIM <n>] [RESIDUAL]

        METHOD BRUTE (default) is :func:`~spark_sql_hbase_spark.
        operators.similarity.cosine_topk` — exact cosine, returns
        ``(query_id, neighbor_id, cos, rank)``.  METHOD SQ8 is
        :func:`~...similarity.sq8_ann_topk` — the 1-byte-code
        bandwidth tier, returns ``(query_id, neighbor_id, score,
        rank)``; DIM skips its dimension-inference scan.  METHOD IVF
        is cell-pruned multi-probe search
        (:func:`~...similarity.assign_cells` +
        :func:`~...similarity.multiprobe_ann_topk`): MODEL names a
        REGISTERED centroid relation — a table/view with columns
        ``(cell, cv)``, e.g. one persisted by
        :func:`~...similarity.persist_ivfpq_model` — resolved through
        the same :meth:`_rel` seam as the corpus (no model DDL
        invented); PROBES sets nprobe (default 2).  The model rides a
        broadcast; cell assignment is row-local; the probed pairs
        multiply only the query side — the pinned IVF cost law.

        All table references resolve through :meth:`_rel`,
        so keyed tables work in BOTH storage modes; plain temp views
        and catalog tables pass straight through.  The plan is
        whatever the operator builds — broadcast query side,
        corpus-scan cost law, shuffle-free top-k window (the pinned
        ANN shapes)."""
        from spark_sql_hbase_spark.operators import similarity

        rel = self._rel
        corpus = rel(m.group("corpus"))
        queries = rel(m.group("queries"))
        id_col = _unquote(m.group("id"))
        vec_col = _unquote(m.group("vec"))
        k = int(m.group("k"))
        method = (m.group("method") or "brute").lower()
        dim = int(m.group("dim")) if m.group("dim") else None
        model_ref = m.group("model")
        books_ref = m.group("books")
        probes = m.group("probes")
        residual = m.group("residual") is not None
        if model_ref and not books_ref and model_ref.lstrip().startswith("("):
            # MODEL (subquery) BOOKS <ref>: only a parenthesized
            # subquery's greedy capture can swallow the BOOKS clause —
            # recover it at depth 0.  A bare identifier MODEL must not
            # be split (review fix: a table legitimately named `books`
            # would be mangled to an empty ref)
            model_ref, books_ref = _split_top_level_books(model_ref)
        if method not in ("ivf", "pq", "ivfadc"):
            if model_ref or probes:
                raise ValueError(
                    f"SIMILARITY JOIN method {method.upper()} takes no "
                    "MODEL/PROBES clause — those belong to METHOD IVF "
                    "MODEL <centroids> [PROBES <n>], METHOD PQ "
                    "MODEL <codebooks>, and METHOD IVFADC "
                    "MODEL <centroids> BOOKS <codebooks> [PROBES <n>]"
                )
        if method != "ivfadc":
            if books_ref:
                raise ValueError(
                    f"SIMILARITY JOIN method {method.upper()} takes no "
                    "BOOKS clause — that belongs to METHOD IVFADC "
                    "MODEL <centroids> BOOKS <codebooks>"
                )
            if residual:
                raise ValueError(
                    f"SIMILARITY JOIN method {method.upper()} takes no "
                    "RESIDUAL flag — residual quantization belongs to "
                    "METHOD IVFADC (codes over cell residuals)"
                )
        if method != "sq8" and dim is not None:
            raise ValueError(
                f"SIMILARITY JOIN method {method.upper()} takes no DIM "
                "clause — DIM skips the dimension-inference scan of "
                "METHOD SQ8 only (review fix: a silently ignored "
                "clause is worse than a refusal)"
            )
        if method == "pq" and probes:
            raise ValueError(
                "SIMILARITY JOIN METHOD PQ takes no PROBES clause — PQ "
                "has no coarse cells to probe (that is METHOD IVF); it "
                "scores every corpus code against the per-query ADC "
                "tables"
            )

        def centroid_rel(ref: str, label: str) -> DataFrame:
            model = rel(ref)
            missing = {"cell", "cv"} - set(model.columns)
            if missing:
                raise ValueError(
                    f"SIMILARITY JOIN {label} model {ref.strip()!r} lacks "
                    f"column(s) {sorted(missing)}: a centroid relation "
                    "exposes (cell, cv)"
                )
            return model.select("cell", "cv")

        def books_rel(ref: str, label: str) -> DataFrame:
            books = rel(ref)
            missing = {"s", "code", "cv"} - set(books.columns)
            if missing:
                raise ValueError(
                    f"SIMILARITY JOIN {label} model {ref.strip()!r} lacks "
                    f"column(s) {sorted(missing)}: a codebook relation "
                    "exposes (s, code, cv)"
                )
            books = books.select("s", "code", "cv")
            # Dense-code invariant (review fix): the ADC lookup indexes
            # the code-ORDERED distance table positionally
            # (element_at(tabs[s], code + 1)), so subspace ids must be
            # dense 0..m-1 and each book's codes dense 0..ksub-1 — the
            # list form asserts this (similarity.pq_encode); a
            # non-conforming user relation through the SQL seam must
            # refuse loudly, not return NULL-adc garbage top-k.  The
            # probe collects only (s, code, len(cv)) of the model-sized
            # broadcast relation — driver cost O(m·ksub), never corpus.
            shape = sorted(
                (int(r["s"]), int(r["code"]), int(r["d"]))
                for r in books.select(
                    "s", "code", F.size("cv").alias("d")
                ).collect()
            )
            by_s: dict = {}
            dims = set()
            for s_id, code, d in shape:
                by_s.setdefault(s_id, []).append(code)
                dims.add(d)
            if len(dims) > 1:
                raise ValueError(
                    f"SIMILARITY JOIN {label} model {ref.strip()!r} mixes "
                    f"subvector lengths {sorted(dims)}: every codebook "
                    "entry must quantize the same subspace width"
                )
            ksubs = {tuple(v) for v in by_s.values()}
            if sorted(by_s) != list(range(len(by_s))) or len(ksubs) != 1 or (
                next(iter(ksubs)) != tuple(range(len(next(iter(ksubs)))))
            ):
                raise ValueError(
                    f"SIMILARITY JOIN {label} model {ref.strip()!r} is not "
                    "a dense codebook: subspace ids must be 0..m-1 and "
                    "every subspace's codes 0..ksub-1 (what "
                    "persist_ivfpq_model writes) — the ADC tables are "
                    "code-indexed positionally"
                )
            return books
        if method == "brute":
            return similarity.cosine_topk(corpus, queries, id_col, vec_col, k)
        if method == "sq8":
            return similarity.sq8_ann_topk(
                corpus, queries, id_col, vec_col, k, dim=dim
            )
        if method == "ivf":
            if not model_ref:
                raise ValueError(
                    "SIMILARITY JOIN METHOD IVF needs MODEL "
                    "<centroid table | (subquery)> — a relation with "
                    "columns (cell, cv)"
                )
            cent = centroid_rel(model_ref, "IVF")
            with_cells = similarity.assign_cells(
                corpus, cent, id_col, vec_col, "cell"
            )
            return similarity.multiprobe_ann_topk(
                with_cells,
                queries,
                cent,
                id_col,
                vec_col,
                "cell",
                k=k,
                nprobe=int(probes) if probes else 2,
            )
        if method == "ivfadc":
            if not model_ref or not books_ref:
                raise ValueError(
                    "SIMILARITY JOIN METHOD IVFADC needs MODEL "
                    "<centroids> BOOKS <codebooks> — the (cell, cv) "
                    "coarse quantizer and the (s, code, cv) PQ books "
                    "persist_ivfpq_model writes"
                )
            cent = centroid_rel(model_ref, "IVFADC")
            books = books_rel(books_ref, "IVFADC")
            # RESIDUAL is IVFADC proper (Jegou et al. 2011 §IV.B):
            # codes quantize the cell residuals, and the per-probe ADC
            # tables are computed from the query's residual against
            # each probed cell — both handled by the operator pair
            enc_in = (
                similarity.residualize(corpus, cent, id_col, vec_col)
                if residual
                else similarity.assign_cells(
                    corpus, cent, id_col, vec_col, "cell"
                )
            )
            codes = similarity.pq_encode(
                enc_in, books, id_col, vec_col, extra_cols=("cell",)
            )
            return similarity.ivfadc_ann_topk(
                codes,
                queries,
                cent,
                books,
                id_col,
                vec_col,
                "cell",
                k=k,
                nprobe=int(probes) if probes else 2,
                residual=residual,
            )
        if method == "pq":
            if not model_ref:
                raise ValueError(
                    "SIMILARITY JOIN METHOD PQ needs MODEL "
                    "<codebook table | (subquery)> — a relation with "
                    "columns (s, code, cv), e.g. the books table "
                    "persist_ivfpq_model writes"
                )
            books = books_rel(model_ref, "PQ")
            codes = similarity.pq_encode(corpus, books, id_col, vec_col)
            return similarity.pq_ann_topk(
                codes, queries, books, id_col, vec_col, k=k
            )
        raise ValueError(
            f"unknown SIMILARITY JOIN method {method!r}; supported: "
            "BRUTE (exact cosine), SQ8 (scalar-quantized), "
            "IVF (cell-pruned; MODEL <centroids> [PROBES <n>]), "
            "PQ (asymmetric-distance codes; MODEL <codebooks>), "
            "IVFADC (cell-pruned ADC; MODEL <centroids> BOOKS "
            "<codebooks> [PROBES <n>] [RESIDUAL])"
        )


    def _router_form(self, stmt: str) -> DataFrame | None:
        """The read statements Spark has no grammar for, and the bare
        count answered from metadata — matched before any parse, since
        PySpark logs every ParseException it raises at ERROR level."""
        m = _BARE_COUNT_RE.match(stmt)
        if m:
            ns, name = _split_qualified(_parts(m.group("target")), self.spark)
            if not self._is_keyed(ns, name) or self._catalog_shadows(
                m.group("target")
            ):
                return None
            # stats-from-metadata discipline (reference
            # HBaseClientImpl.scala:298 serves table stats without a
            # scan): the exact row count comes from parquet footers /
            # span manifests via fast_count — zero Spark jobs, O(files)
            # driver-side, always current-generation (post-DML) exact.
            # Any filter, projection, or grouping fails this regex and
            # goes to the ordinary resolved scan.  VALUES resolves to a
            # LocalRelation, so the result is ONE LocalTableScan —
            # executeCollect returns it without submitting any Spark job
            # (createDataFrame would plan an RDD scan, SELECT <literal> a
            # OneRowRelation projection; both pay a job on collect)
            n = self.store.fast_count(f"{ns}.{name}")
            alias = m.group("alias")
            return self.spark.sql(f"VALUES (CAST({int(n)} AS BIGINT))").toDF(
                _unquote(alias) if alias else "count(1)"
            )

        for regex, run, form, grammar in (
            (_SCAN_PAGE_RE, self._scan_page, "SCAN", _SCAN_GRAMMAR),
            (_NEARDUP_RE, self._near_duplicates, "NEAR DUPLICATES", _NEARDUP_GRAMMAR),
            (_SIMJOIN_RE, self._similarity_join, "SIMILARITY JOIN", _SIMJOIN_GRAMMAR),
        ):
            m = regex.match(stmt)
            if m:
                return run(m)
            if re.match(rf"^\s*{form.split()[0]}\b", stmt, re.IGNORECASE):
                raise ValueError(f"unsupported {form} form; use {grammar}")
        return None

    def _create_index(self, m: re.Match) -> DataFrame | None:
        ns, name = _split_qualified(_parts(m.group("target")), self.spark)
        if not self._is_keyed(ns, name):
            return None
        ins, iname = _split_qualified(_parts(m.group("idx")), self.spark)
        if not (m.group("ine") and self._is_keyed(ins, iname)):
            opts = dict(_OPTION_KV_RE.findall(m.group("opts") or ""))
            fps = opts.get("fixed_point_scale")
            include = re.findall(r"`[^`]+`|[\w:]+", m.group("inc") or "")
            self.store.create_covered_index(
                f"{ns}.{name}",
                f"{ins}.{iname}",
                index_col=_unquote(m.group("col")),
                include=[_unquote(c) for c in include],
                key_width=int(opts.get("key_width", "12")),
                fixed_point_scale=int(fps) if fps else None,
            )
        return self._done()

    # -- dispatch ---------------------------------------------------------
    def sql(self, statement: str) -> DataFrame:
        stmt = statement.strip().rstrip(";").strip()
        em = _EXPLAIN_RE.match(stmt)
        df = self._router_form(em.group("rest") if em else stmt)
        if df is not None and em:
            # EXPLAIN of a router-owned form explains the DataFrame the
            # router builds for it (for the bare count, the LocalTableScan
            # fast path — not the catalog scan a passthrough would show)
            from spark_sql_hbase_spark.plans.pushdown import formatted_plan

            plan = formatted_plan(df, (em.group("mode") or "simple").lower())
            return self.spark.createDataFrame([(plan,)], "plan string")
        m = _CREATE_INDEX_RE.match(stmt) if df is None else None
        df = self._create_index(m) if m else df
        if df is not None:
            return df

        stmt = self._substitute(stmt)
        plan = self._parse(stmt)
        node = plan.child() if plan.nodeName() == "UnresolvedWith" else plan
        kind = node.nodeName()
        if kind in self._TARGETS:
            target = getattr(node, self._TARGETS[kind])()
            qualified = self._keyed(target)
            if qualified is not None:
                if (
                    target.nodeName() == "SubqueryAlias"
                    and target.alias().lower() == "where"
                ):
                    # Spark reads a dangling WHERE as the target's alias:
                    # `DELETE FROM t WHERE` would be an unfiltered delete
                    raise ValueError(
                        "WHERE clause has no condition; omit WHERE entirely "
                        "to target every row"
                    )
                getattr(self, f"_store_{kind}")(stmt, node, qualified)
                return self._done()
        elif hasattr(self, f"_route_{kind}"):
            df = getattr(self, f"_route_{kind}")(stmt, node)
            if df is not None:
                return df
        elif not node.children().isEmpty():
            table = node.children().head()
            if (
                table.nodeName() in ("UnresolvedTable", "UnresolvedTableOrView")
                and table.commandName().startswith("ALTER TABLE")
                and (qualified := self._keyed(table))
            ):
                # passing it through would mutate the catalog table and
                # desync the registry (reference alterTable /
                # alterTableDataSchema, HBaseExternalCatalog.scala:69,72)
                raise ValueError(
                    f"unsupported ALTER TABLE form for keyed table "
                    f"{qualified}: {stmt!r}; supported: ADD COLUMNS "
                    "(col type, ...) | SET TBLPROPERTIES ('k'='v', ...)"
                )
        return self._query(stmt, plan)

    # -- statements on a keyed target: (statement, node, table name) --------
    def _store_InsertIntoStatement(self, stmt: str, node, qualified: str) -> None:
        partitioned = not node.partitionSpec().isEmpty() or node.ifPartitionNotExists()
        if partitioned or node.byName():
            raise ValueError(
                f"unsupported INSERT form for keyed table {qualified}; "
                "use INSERT [INTO|OVERWRITE] <table> [(cols)] "
                "VALUES (...) | SELECT ..."
            )
        spec = self.store.registry.get(qualified)
        # the source is the statement without its INSERT head: the query
        # after it, with any WITH or FROM clause written before it
        a, b = _span(node)
        df = self._conform(
            self._query(stmt[:a] + stmt[b + 1 :]), spec, _seq(node.userSpecifiedCols())
        )
        # SQL semantics: unlisted columns are NULL (the store's conform
        # select would otherwise fail on them; row_key is generator-filled)
        for f in spec.schema().fields:
            if f.name not in df.columns and f.name != ROW_KEY:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        self.store.insert(qualified, df, overwrite=node.overwrite())

    def _store_AddColumns(self, stmt: str, node, qualified: str) -> None:
        """Reference ``alterTableDataSchema``, ``HBaseExternalCatalog.scala:72``."""
        cols = [
            _column(c, c.colName(), _ADD_COLUMN_CLAUSES)
            for c in _seq(node.columnsToAdd())
        ]
        self.store.alter_table_add_columns(qualified, cols)

    def _store_SetTableProperties(self, stmt: str, node, qualified: str) -> None:
        """Reference ``alterTable``, ``HBaseExternalCatalog.scala:69``."""
        self.store.alter_table_set_properties(qualified, self._property_list(stmt))

    def _store_DeleteFromTable(self, stmt: str, node, qualified: str) -> None:
        cond = node.condition()  # no WHERE: Spark's shared `true` literal
        bare = cond.nodeName() == "Literal" and cond.toString() == "true"
        self.store.delete_where(qualified, "true" if bare else _text(stmt, cond))

    def _store_UpdateTable(self, stmt: str, node, qualified: str) -> None:
        sets = {
            ".".join(_seq(a.key().nameParts())): _text(stmt, a.value())
            for a in _seq(node.assignments())
        }
        cond = node.condition()
        where = _text(stmt, cond.get()) if cond.isDefined() else "true"
        self.store.update_where(qualified, sets, where)

    def _store_MergeIntoTable(self, stmt: str, node, qualified: str) -> None:
        clauses = (node.matchedActions(), node.notMatchedActions(),
                   node.notMatchedBySourceActions())
        shape = [[(a.nodeName(), a.condition().isDefined()) for a in _seq(c)]
                 for c in clauses]
        if shape != [[("UpdateStarAction", False)], [("InsertStarAction", False)], []]:
            raise ValueError(
                f"unsupported MERGE form for keyed table {qualified}; "
                "use MERGE INTO <t> USING <source> ON row_key "
                "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
            )
        on = node.mergeCondition()
        if on.nodeName() != "UnresolvedAttribute" or _seq(on.nameParts()) != [ROW_KEY]:
            raise ValueError("MERGE over keyed tables supports ON row_key only")
        src = node.sourceTable()  # a relation or subquery, maybe aliased
        if src.nodeName() == "SubqueryAlias":
            src = src.child()  # (an alias node's origin is the whole MERGE)
        self.store.upsert(qualified, self._query(f"SELECT * FROM ({_text(stmt, src)})"))

    def _store_DropTable(self, stmt: str, node, qualified: str) -> None:
        self.store.drop_table(qualified)

    def _store_TruncateTable(self, stmt: str, node, qualified: str) -> None:
        self.store.truncate_table(qualified)

    # -- statements that decide for themselves: (statement, node) → result --
    def _route_CreateTable(self, stmt: str, node) -> DataFrame | None:
        clauses = node.tableSpec()
        provider = clauses.provider()
        if not provider.isDefined() or provider.get().lower() not in _KEYED_PROVIDERS:
            return None
        ns, name = _split_qualified(_target(node.name()), self.spark)
        for clause, given in (
            ("PARTITIONED BY / CLUSTER BY", not node.partitioning().isEmpty()),
            ("LOCATION", clauses.location().isDefined()),
            ("COMMENT", clauses.comment().isDefined()),
        ):
            if given:
                raise ValueError(
                    f"CREATE TABLE {ns}.{name} USING keyed: {clause} is not "
                    "supported (the store owns a keyed table's layout, "
                    "location and metadata)"
                )
        options = self._property_list(stmt)
        ine = node.ignoreIfExists()
        if node.nodeName() == "CreateTable":
            cols = [
                _column(c, c.name(), _CREATE_COLUMN_CLAUSES)
                for c in _seq(node.columns())
            ]
            if not cols:
                raise ValueError(
                    f"CREATE TABLE {ns}.{name} USING keyed needs a column "
                    "list or AS <query>"
                )
            self.store.create_table(
                _spec_from_columns(ns, name, cols, options), ignore_if_exists=ine
            )
            return self._done()
        # CTAS — CreateHBaseTableAsSelectCommand.scala:18-88
        query = self._query(_text(stmt, node.query()))
        cols = [(f.name, f.dataType.simpleString()) for f in query.schema.fields]
        # conform bare names to the spec's cf-qualified layout (by name,
        # never position — the key column may sit anywhere)
        query = query.select(
            *[
                F.col(f"`{c}`").alias(c if (c == ROW_KEY or ":" in c) else f"cf:{c}")
                for c in query.columns
            ]
        )
        self.store.ctas(
            _spec_from_columns(ns, name, cols, options),
            query,
            mode="ignore" if ine else "error",
        )
        return self._done()

    _route_CreateTableAsSelect = _route_CreateTable

    def _route_SetNamespaceProperties(self, stmt: str, node) -> DataFrame | None:
        ns = ".".join(_target(node.namespace()))
        if ns not in self.store.namespaces():
            return None
        self.store.alter_namespace(ns, self._property_list(stmt))
        return self._done()

    def _route_DropNamespace(self, stmt: str, node) -> DataFrame | None:
        ns = ".".join(_target(node.namespace()))
        if not self.store.registry.tables(ns):
            return None
        # a plain-Spark DROP DATABASE ... CASCADE would drop the catalog
        # tables while the registry and warehouse files remain — route
        # through the store so all three stay in sync
        self.store.drop_namespace(ns, cascade=node.cascade())
        return self._done()

    def _route_ShowTables(self, stmt: str, node) -> DataFrame | None:
        """Manifest mode has no catalog TABLE entries, so SHOW TABLES
        lists only temp views — add the registry's tables for the
        namespace (the listing the reference's external catalog serves,
        ``HBaseSessionCatalog.scala``)."""
        if not self.store.manifest_authority or node.pattern().isDefined():
            return None
        parts = _target(node.namespace())
        ns = ".".join(parts) if parts else self.spark.catalog.currentDatabase()
        base = self.spark.sql(stmt)
        rows = [(ns, q.split(".", 1)[1], False) for q in self.store.registry.tables(ns)]
        if not rows:
            return base
        return base.unionByName(self.spark.createDataFrame(rows, base.schema))
