"""``saprfc`` DataSource V2 (SURVEY §7 M7): ``spark.read.format("saprfc")``.

A Python Data Source implementing the reference's entire extraction surface
as a first-class Spark source:

* **partition-per-page planning** (S1/S2) — one ``InputPartition`` per
  ``ROWSKIPS/ROWCOUNT`` page, fetched concurrently by executors; the
  distributed inversion of the reference's serial loop
  (`/root/reference/pyrfc_read_table/pyrfc_read_table.py:66-83`).
  Unlike ``rfc.read_rfc_table``, which packs a contiguous run of pages
  into each of ``defaultParallelism`` tasks, these planners stay one
  partition per page: ``partitions()`` runs in a Python planner worker
  that sees only the reader options, not the cluster's parallelism, so it
  has no slice count to pack to.  Each page therefore pays one Python
  worker task's fixed cost (README, "Scale design").
* **schema-from-catalog** (S3) — FIELDS metadata → typed ``StructType``
  per the DDIC mapping of SURVEY §1.2 (`pyrfc_read_table.py:124-133`).
* **filter pushdown** (P7) — ``pushFilters`` renders supported predicates
  into the BAPI's ``OPTIONS`` where-clause text, the parameter the
  reference never passes (absence at `pyrfc_read_table.py:71`): comparison
  lines (``EQ/GT/GE/LT/LE``, plus ``Not`` complements — ``Not(EqualTo)``
  -> ``NE``, ``Not(GreaterThan)`` -> ``LE``, ...), ``In`` value lists
  (``NAME IN ('a', 'b')``), the three string predicates as LIKE
  patterns — ``StringStartsWith`` -> ``NAME LIKE 'x%'``,
  ``StringEndsWith`` -> ``'%x'``, ``StringContains`` -> ``'%x%'``
  (string-typed columns only) — and flat disjunctions as parenthesized
  ``( A OR B )`` lines (:class:`OrGroup`; spec-option-only, since
  Spark's Python DS filter protocol cannot ship ``Or`` to
  ``pushFilters``).  Because the server evaluates OPTIONS as
  an open-SQL dynamic WHERE (character comparison over char-class
  columns), literals render only in order-preserving wire form — NUMC
  literals zero-padded to the declared field LENGTH, dates as yyyyMMdd
  (see :func:`_wire_literal`).  The source re-verifies every accepted
  predicate on the typed values after parsing, so pushdown is an
  optimization, never a semantics change; transports are free to apply
  OPTIONS only approximately (superset obligation).  The whole contract
  is hypothesis-fuzzed (tests/test_saprfc_pushdown_fuzz.py): pushed scan
  == unpushed scan + predicates, for random filter/limit compositions.
* **projection pushdown** (P8) — the ``fields`` option → the BAPI's
  ``FIELDS`` input parameter; only requested columns cross the wire.
  (Spark's Python DS API has no column-pruning hook yet, so projection is
  an explicit reader option rather than automatic.)
* **limit pushdown** — the ``maxrows`` option caps the planned page range
  (and truncates the final page's ``ROWCOUNT``), so a bounded extraction
  schedules only ``ceil(maxrows / pagesize)`` tasks instead of scanning the
  table and limiting afterwards — the ``ROWCOUNT`` bound the reference
  pages with (`pyrfc_read_table.py:71`), surfaced as the third pushdown
  leg beside OPTIONS/FIELDS (same explicit-option gap as P8).
* **dead-letter channel** (S6) — rows whose delimited arity mismatches the
  field count surface with all data columns NULL and the raw line in
  ``_corrupt_record``, Spark's CSV convention for the reference's error
  split (`pyrfc_read_table.py:143-149`).  Under pushdown, a corrupt row
  survives iff every accepted predicate evaluates True against its
  all-NULL data columns (so null-accepting predicates like ``IS NULL``
  keep it, value comparisons drop it) — identical to evaluating the
  residual plan over the materialized scan.

Parsing is Python-side by necessity (the RFC wire format is pre-relational
text; a real deployment is RFC-I/O-bound), but each page is one executor
task so throughput scales with the cluster, and parsed pages cross into the
JVM as ``pyarrow.RecordBatch`` columns — one Arrow transfer per ~10k rows,
never a pickled tuple per row.
"""

from __future__ import annotations

import datetime
import logging
import math
import re
import sys
from collections.abc import Iterator, Sequence
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal, InvalidOperation, localcontext
from typing import Any

from pyspark.errors import PySparkException
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualNullSafe,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    Not,
    StringContains,
    StringEndsWith,
    StringStartsWith,
)
from pyspark.sql.types import (
    BinaryType,
    DateType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .rfc import (
    DEFAULT_DELIMITER,
    DEFAULT_PAGE_SIZE,
    MockRfcTransport,
    PyRfcTransport,
    RfcField,
    RfcTransport,
)
from .secrets import REQUIRED_KEYS, resolve_secret

CORRUPT_COL = "_corrupt_record"


def _transport_from_options(options: dict) -> RfcTransport:
    kind = options.get("transport", "mock")
    if kind == "mock":
        return MockRfcTransport(n_rows=int(options.get("mockrows", 2500)))
    if kind == "pyrfc":
        # S10: connection config from a secret (provider chain in
        # sources.secrets, mirroring the reference's Secrets Manager fetch,
        # pyrfc_read_table.py:91-109) or from explicit reader options.
        if "secretId" in options or "secretid" in options:
            auth = resolve_secret(
                options.get("secretId", options.get("secretid")),
                region_name=options.get("region"),
            )
        else:
            try:
                auth = {k: options[k] for k in REQUIRED_KEYS}
            except KeyError as e:
                raise ValueError(
                    f"pyrfc transport needs option {e.args[0]!r} (or secretId)"
                ) from None
        return PyRfcTransport(**{k: auth[k] for k in REQUIRED_KEYS})
    raise ValueError(
        f"unknown transport {kind!r}; expected 'mock' or 'pyrfc' "
        "(connection config via secretId/explicit options, SURVEY §2.1 S10)"
    )


def _spark_type(f: RfcField):
    code = f.type_code
    if code == "N":
        return LongType()
    if code == "D":
        return DateType()
    if code == "T":
        return IntegerType()
    if code == "P":
        return DecimalType(38, f.decimal_scale)
    if code == "F":
        return DoubleType()
    if code in ("I", "s", "b"):
        return IntegerType()
    if code in ("X", "y"):
        return BinaryType()
    return StringType()


def _pa_type(f: RfcField):
    """Arrow twin of _spark_type — the RecordBatch schema Spark expects for
    this scan (Spark's own Arrow mapping of the declared StructType)."""
    import pyarrow as pa

    code = f.type_code
    if code == "N":
        return pa.int64()
    if code == "D":
        return pa.date32()
    if code == "T":
        return pa.int32()
    if code == "P":
        return pa.decimal128(38, f.decimal_scale)
    if code == "F":
        return pa.float64()
    if code in ("I", "s", "b"):
        return pa.int32()
    if code in ("X", "y"):
        return pa.binary()
    return pa.string()


_INT_RE = re.compile(r"[+-]?[0-9]+")
_DATE8_RE = re.compile(r"[0-9]{8}")
_HEX_RE = re.compile(r"[0-9a-fA-F]*")
# \d (unicode): Spark's DECIMAL string cast accepts unicode digits (its
# integral/double casts do not — both verified by the differential fuzz)
_DEC_RE = re.compile(r"[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?")

# Spark's TWO trim layers, mirrored exactly (round-12 differential —
# Python's bare str.strip() strips unicode whitespace and so diverged on
# wire text with non-space whitespace, in BOTH directions):
#  * ``F.trim`` strips ONLY the ASCII space — '\t5' stays '\t5';
#  * the numeric/decimal/double casts internally trim every char <= 0x20
#    (tab, newline, CR, NUL, control chars) from both ends;
#  * NOTHING strips unicode whitespace: '\xa05' casts to NULL in Spark
#    while str.strip() would have eaten the \xa0 and parsed the 5.
# Date parsing (try_to_date) and unhex get NO second trim layer.
_CAST_TRIM = "".join(chr(i) for i in range(0x21))


def _try_int(v: str, lo: int, hi: int) -> int | None:
    """Spark try_cast-to-integral twin: optional sign + ASCII digits only
    (Python's int() also accepts underscores and unicode digits — Spark
    does not), NULL outside the target type's range (Python ints are
    unbounded; an overflowing value would crash the int64/int32 Arrow
    column build instead of nulling)."""
    if not _INT_RE.fullmatch(v):
        return None
    x = int(v)
    return x if lo <= x <= hi else None


def _py_cast(v: str, f: RfcField) -> Any:
    """Executor-side twin of functions.ddic.ddic_cast (try-cast semantics:
    malformed -> None, '00000000' date -> None).

    The twin claim is tested literally (tests/test_ddic_cast_diff.py runs
    both over an adversarial corpus and diffs every value), which is what
    keeps the DSv2 scan and the rfc.py parse path value-identical on the
    same wire text.  Notable Spark behaviors mirrored here: integral casts
    reject underscores/unicode digits and NULL on overflow; dates are
    strict 8-ASCII-digit yyyyMMdd; decimals round HALF_UP to the declared
    scale, NULL on NaN/Infinity/precision overflow; doubles accept a Java
    trailing f/F/d/D suffix; binary follows unhex (odd length left-pads a
    zero nibble, whitespace is not hex).  Trim semantics follow Spark's
    two layers exactly (see ``_CAST_TRIM``): ASCII-space trim first (the
    ``F.trim`` twin), then a <=0x20 trim inside the numeric casts only —
    never a unicode-whitespace strip."""
    v = v.strip(" ")  # F.trim twin: ASCII space ONLY
    code = f.type_code
    try:
        if code == "N":
            return _try_int(v.strip(_CAST_TRIM), -(2**63), 2**63 - 1)
        if code == "D":
            # try_to_date applies no second trim layer (probe: '\t20200130'
            # is NULL in Spark) — match on the space-trimmed value as-is
            if v == "00000000" or not _DATE8_RE.fullmatch(v):
                return None
            return datetime.date(int(v[0:4]), int(v[4:6]), int(v[6:8]))
        if code == "T":
            # slices are taken from the space-trimmed value; each slice
            # then gets the cast's own <=0x20 trim, like Spark's try_cast
            h = _try_int(v[0:2].strip(_CAST_TRIM), -(2**31), 2**31 - 1)
            m = _try_int(v[2:4].strip(_CAST_TRIM), -(2**31), 2**31 - 1)
            s = _try_int(v[4:6].strip(_CAST_TRIM), -(2**31), 2**31 - 1)
            if h is None or m is None or s is None:
                return None
            return h * 3600 + m * 60 + s
        if code == "P":
            v = v.strip(_CAST_TRIM)  # the DECIMAL cast's internal trim
            if not _DEC_RE.fullmatch(v):
                return None
            # Widened precision context: the default Decimal context
            # (prec=28) raises InvalidOperation for quantize results
            # needing 29+ digits, but Spark's try_cast to decimal(38,s)
            # keeps values up to 38 total digits — the r11 advice found
            # the twin invariant broken in the 29-38-digit band (and the
            # >38 overflow check below dead).  prec=42 lets quantize
            # succeed through the whole legal band plus rounding-carry
            # headroom; anything needing MORE than 42 digits still raises
            # InvalidOperation -> None, which agrees with Spark (>38
            # digits overflows to NULL either way).
            with localcontext() as ctx:
                ctx.prec = 42
                d = Decimal(v).quantize(
                    Decimal(1).scaleb(-f.decimal_scale), rounding=ROUND_HALF_UP
                )
            # decimal(38, scale) overflow -> NULL, like Spark's try_cast
            if len(d.as_tuple().digits) > 38:
                return None
            return d
        if code == "F":
            v = v.strip(_CAST_TRIM)  # the DOUBLE cast's internal trim
            if "_" in v or not v.isascii():
                return None  # Python float() is laxer than Spark's cast
            try:
                return float(v)
            except ValueError:
                # Java-style literal suffix, accepted by Spark's cast only
                # when flush against the number (no inner whitespace)
                if len(v) > 1 and v[-1] in "fFdD" and not v[-2].isspace():
                    return float(v[:-1])
                raise
        if code in ("I", "s", "b"):
            return _try_int(v.strip(_CAST_TRIM), -(2**31), 2**31 - 1)
        if code in ("X", "y"):
            # unhex applies no second trim layer ('\t5' is NULL in Spark)
            if not _HEX_RE.fullmatch(v):
                return None
            return bytes.fromhex("0" + v if len(v) % 2 else v)
    except (ValueError, InvalidOperation):
        return None
    return v


# --- three-valued predicate evaluation (SQL semantics: row passes iff True) --


def _cmp(v, w) -> int | None:
    if v is None or w is None:
        return None
    try:
        return (v > w) - (v < w)
    except TypeError:
        # type confusion in EITHER direction (string literal against a
        # numeric/date column, or vice versa): be conservative, fail the
        # row — never crash the scan.  The one-sided str-vs-numeric guard
        # this replaces missed the mirrored case (fuzz-found, round 11).
        return None


@dataclass(frozen=True)
class OrGroup(Filter):
    """Disjunction of simple filters — OUR dataclass, not Spark's.

    Spark's Python Data Source filter protocol serializes only simple
    comparison/null/string filters plus a negation flag
    (pyspark/sql/worker/data_source_pushdown_filters.py:
    ``binary_filters`` / ``unary_filters`` / ``isNegated``), so a
    disjunctive predicate NEVER reaches ``pushFilters`` — Spark keeps
    ``Or`` client-side as a residual Filter.  ABAP open-SQL OPTIONS,
    however, accepts ``OR`` with parentheses, so the explicit ``pushdown``
    spec option (the same API-gap channel as the P8 ``fields`` / P9
    ``maxrows`` options) carries disjunctions: a clause ``A OR B`` parses
    into ``OrGroup((A, B))``, renders as the OPTIONS line ``( A OR B )``,
    and re-verifies with SQL three-valued OR semantics.  Without this, the
    reference scenario — a multi-table/multi-prefix extract filter — pulls
    every row of every page and filters client-side.

    Children must be OR-free simple terms (the grammar is a flat
    disjunction inside one conjunctive clause) and there must be at least
    two of them (a one-child group would render as a bare term and parse
    back as the child, breaking the render∘parse identity).
    """

    children: tuple[Filter, ...]

    def __post_init__(self) -> None:
        if len(self.children) < 2:
            raise ValueError("OrGroup needs at least two children")
        for c in self.children:
            inner = c
            while isinstance(inner, Not):
                inner = inner.child
            if isinstance(inner, OrGroup):
                raise ValueError("OrGroup children must be OR-free simple terms")


def _eval_filter(flt: Filter, row: dict) -> bool | None:
    if isinstance(flt, Not):
        inner = _eval_filter(flt.child, row)
        return None if inner is None else not inner
    if isinstance(flt, OrGroup):
        # SQL three-valued OR: any True -> True; else any NULL -> NULL
        saw_null = False
        for child in flt.children:
            r = _eval_filter(child, row)
            if r is True:
                return True
            if r is None:
                saw_null = True
        return None if saw_null else False
    name = flt.attribute[-1]
    v = row.get(name)
    if isinstance(flt, IsNull):
        return v is None
    if isinstance(flt, IsNotNull):
        return v is not None
    if isinstance(flt, EqualNullSafe):
        return v == flt.value if v is not None and flt.value is not None else (
            v is None and flt.value is None
        )
    if v is None:
        return None
    if isinstance(flt, EqualTo):
        c = _cmp(v, flt.value)
        return None if c is None else c == 0
    if isinstance(flt, GreaterThan):
        c = _cmp(v, flt.value)
        return None if c is None else c > 0
    if isinstance(flt, GreaterThanOrEqual):
        c = _cmp(v, flt.value)
        return None if c is None else c >= 0
    if isinstance(flt, LessThan):
        c = _cmp(v, flt.value)
        return None if c is None else c < 0
    if isinstance(flt, LessThanOrEqual):
        c = _cmp(v, flt.value)
        return None if c is None else c <= 0
    if isinstance(flt, In):
        # SQL three-valued IN: v IN (a, b, ...) is an OR of equalities —
        # True on any match; when nothing matches, the result is NULL (not
        # False) if the list holds a NULL or an incomparable literal
        # (mirroring _cmp's conservatism).  The Python-membership version
        # returned False there, which diverged from Spark under Not():
        # Not(False)=True kept rows the unpushed plan drops (r11 advice) —
        # and accepted filters are consumed, so Spark never re-applied them.
        saw_null = False
        for x in flt.value:  # .value IS the tuple (the dataclass field name)
            c = None if x is None else _cmp(v, x)
            if c is None:
                saw_null = True
            elif c == 0:
                return True
        return None if saw_null else False
    if isinstance(flt, StringStartsWith):
        return isinstance(v, str) and v.startswith(flt.value)
    if isinstance(flt, StringEndsWith):
        return isinstance(v, str) and v.endswith(flt.value)
    if isinstance(flt, StringContains):
        return isinstance(v, str) and flt.value in v
    raise NotImplementedError(type(flt).__name__)


# Explicit whitelist of Filter types _eval_filter fully handles.  pushFilters
# used to *probe* with an all-None row, but value-comparing filters return
# early on None and so could never raise for an unknown future Filter type —
# which would then be accepted, never re-applied by Spark, and crash (or
# silently drop rows) at read() time.  A whitelist is deterministic.
_HANDLED_FILTERS = (
    EqualTo,
    EqualNullSafe,
    GreaterThan,
    GreaterThanOrEqual,
    LessThan,
    LessThanOrEqual,
    In,
    IsNull,
    IsNotNull,
    StringStartsWith,
    StringEndsWith,
    StringContains,
)


def _filter_handled(flt: Filter) -> bool:
    if isinstance(flt, Not):
        return _filter_handled(flt.child)
    if isinstance(flt, OrGroup):
        return all(_filter_handled(c) for c in flt.children)
    return isinstance(flt, _HANDLED_FILTERS)


_OPTIONS_OPS = {
    EqualTo: "EQ",
    GreaterThan: "GT",
    GreaterThanOrEqual: "GE",
    LessThan: "LT",
    LessThanOrEqual: "LE",
}

# odd-Not complement: Not(cmp) renders as the opposite operator.  Over
# non-null values Not(v > lit) IS v <= lit, and rows whose typed value is
# NULL are dropped by the re-verification regardless of what the server
# did with them, so the complement is exactly as safe as the positive op.
# EqualNullSafe is deliberately ABSENT: Not(EqualNullSafe(lit)) is TRUE for
# v = NULL when lit is non-null, and a server NE could drop such a row
# (narrowing).  In/LIKE/null-checks under Not don't render either.
_NEG_OPTIONS_OPS = {
    EqualTo: "NE",
    GreaterThan: "LE",
    GreaterThanOrEqual: "LT",
    LessThan: "GE",
    LessThanOrEqual: "GT",
}

# string predicate -> the (prefix, suffix) wildcards of its LIKE pattern
_LIKE_SHAPES = {
    StringStartsWith: ("", "%"),
    StringEndsWith: ("%", ""),
    StringContains: ("%", "%"),
}


def _wire_literal(v: Any, f: RfcField | None) -> str | None:
    """Render a typed filter literal as OPTIONS wire text for column ``f``,
    or None when no CHAR-SEMANTICS-SAFE rendering exists.

    The server evaluates OPTIONS as an open-SQL dynamic WHERE: char-class
    columns compare CHARACTER-wise against the stored representation, so a
    literal is renderable only when its wire text occupies the same ordered
    domain as the stored text:

    * ``C``/``g`` (char): the typed value IS the trimmed stored text —
      render the string as-is (quotes escape by doubling).
    * ``D`` (DATS): stored as fixed-width ``yyyyMMdd``, whose lexicographic
      order is date order — render via strftime.
    * ``N`` (NUMC): stored RIGHT-ALIGNED ZERO-PADDED to the declared
      length; an unpadded literal silently misses rows (``'0999' GT '250'``
      is false char-wise — the classic RFC_READ_TABLE gotcha, r12 advice).
      Render ``str(v).zfill(length)`` when the declared length is known,
      the literal is a non-negative int, and it fits the width; otherwise
      skip (a wider-than-field literal has no char-order-preserving
      rendering: ``'9999' > '12345'`` char-wise but 9999 < 12345).
    * everything else (``T`` seconds-since-midnight, ``P``/``F`` numerics,
      ``X`` binary, ``I`` ints): the typed domain differs from the stored
      text (or the storage isn't char-class at all), so no rendering — the
      predicate rides the wire unfiltered and the typed re-verification
      applies it exactly.
    """
    if f is None:
        return None
    code = f.type_code
    if code == "D":
        return v.strftime("%Y%m%d") if isinstance(v, datetime.date) else None
    if code == "N":
        if (
            isinstance(v, int)
            and not isinstance(v, bool)
            and v >= 0
            and f.length > 0
            and len(str(v)) <= f.length
        ):
            return str(v).zfill(f.length)
        return None
    if code in ("C", "g"):
        return v.replace("'", "''") if isinstance(v, str) else None
    return None


def _render_options(filters: Sequence[Filter], fields: Sequence[RfcField]) -> list[str]:
    """ABAP-ish OPTIONS where-clause lines for the pushable subset
    (RFC_READ_TABLE2's OPTIONS parameter, public BAPI interface).

    Rendering is an optimization, never a semantics change: every accepted
    predicate is re-verified on the typed values after parsing, so a filter
    that does NOT render here (unknown literal type, unpaddable NUMC
    literal, wildcard characters in a prefix, non-string LIKE target) still
    filters correctly — it just rides the wire unfiltered.  The one
    obligation this places on a transport: its OPTIONS evaluation must
    return a SUPERSET of the rows the typed predicates match
    (re-verification can only narrow) — the same server-superset assumption
    every engine's JDBC-style pushdown makes.  Because open-SQL dynamic
    conditions compare char-class columns CHARACTER-wise, only literals
    whose wire text preserves the typed order render at all
    (:func:`_wire_literal`); binary/codepage collation differences on
    non-ASCII data remain the transport's documented obligation.  Shapes:

    * comparisons -> ``NAME EQ|GT|GE|LT|LE 'lit'``
    * ``Not`` over a comparison -> the complement operator
      (``Not(EqualTo)`` -> ``NAME NE 'lit'``, ``Not(GreaterThan)`` ->
      ``LE``, ...); a double ``Not`` unwraps back to the positive shape
    * ``In`` -> ``NAME IN ('a', 'b', ...)`` when every value renders
      (all-or-nothing: a partial list could only be justified value by
      value, and skipping the clause is always safe)
    * ``StringStartsWith`` / ``StringEndsWith`` / ``StringContains`` ->
      ``NAME LIKE 'x%'`` / ``'%x'`` / ``'%x%'`` — only for string-typed
      fields (a LIKE against a NUMC/DATS column would match raw text the
      typed re-verification then rejects).  A ``%``/``_`` inside the
      literal is NOT escaped (the OPTIONS grammar kept ESCAPE-free): the
      server reads it as a wildcard, which only ever WIDENS the match, and
      the typed re-verification restores exact semantics.
    * ``OrGroup`` (round-14) -> ``( A OR B )``, each disjunct one of the
      shapes above; all-or-nothing, see :func:`_render_clause`.
    """
    by_name = {f.name: f for f in fields}
    string_fields = frozenset(
        f.name for f in fields if isinstance(_spark_type(f), StringType)
    )
    out = []
    for flt in filters:
        line = _render_clause(flt, by_name, string_fields)
        if line is not None:
            out.append(line)
    return out


def _render_clause(
    flt: Filter, by_name: dict[str, RfcField], string_fields: frozenset[str]
) -> str | None:
    """OPTIONS wire text for ONE pushed filter, or None when no
    char-semantics-safe rendering exists (the predicate then rides the
    wire unfiltered and the typed re-verification applies it exactly).

    ``OrGroup`` renders as a parenthesized open-SQL disjunction
    ``( A OR B )`` — ALL-or-nothing, and for a harder reason than ``In``'s:
    skipping a whole conjunctive clause only WIDENS the server set (safe),
    but dropping a single disjunct from a rendered group would NARROW it,
    violating the superset obligation, so one unrenderable child unrenders
    the entire group.  A negated group (``Not(OrGroup)``) is never
    rendered: its De Morgan form is a conjunction of complements whose
    members may individually be unrenderable, and the unrendered ride is
    always correct.
    """
    neg = False
    while isinstance(flt, Not):
        neg = not neg
        flt = flt.child
    if isinstance(flt, OrGroup):
        if neg:
            return None
        parts = [_render_clause(c, by_name, string_fields) for c in flt.children]
        if any(p is None for p in parts):
            return None
        return "( " + " OR ".join(parts) + " )"
    if neg:
        op = _NEG_OPTIONS_OPS.get(type(flt))
        if op is None:
            return None
        name = flt.attribute[-1]
        lit = _wire_literal(flt.value, by_name.get(name))
        return None if lit is None else f"{name} {op} '{lit}'"
    if isinstance(flt, In):
        name = flt.attribute[-1]
        lits = [_wire_literal(v, by_name.get(name)) for v in flt.value]
        if lits and all(lit is not None for lit in lits):
            vals = ", ".join(f"'{lit}'" for lit in lits)
            return f"{name} IN ({vals})"
        return None
    shape = _LIKE_SHAPES.get(type(flt))
    if shape is not None:
        name = flt.attribute[-1]
        v = flt.value
        if name in string_fields and isinstance(v, str):
            pre, post = shape
            esc = v.replace(chr(39), chr(39) * 2)
            return f"{name} LIKE '{pre}{esc}{post}'"
        return None
    op = _OPTIONS_OPS.get(type(flt))
    if op is None and isinstance(flt, EqualNullSafe) and flt.value is not None:
        # v <=> lit with a non-null literal is satisfied only by
        # non-null v == lit, exactly EQ's server-kept set
        op = "EQ"
    if op is not None:
        name = flt.attribute[-1]
        lit = _wire_literal(getattr(flt, "value", None), by_name.get(name))
        return None if lit is None else f"{name} {op} '{lit}'"
    return None


# --- OPTIONS wire-line discipline (round 15) --------------------------------
# The RFC_READ_TABLE-family OPTIONS parameter is a table of 72-character
# TEXT lines (public SAP interface: the line type is a char72 field) that
# the server concatenates into ONE dynamic WHERE condition.  Two
# consequences the renderer must honor for a live server:
#
#   * every wire line must fit 72 characters — a longer TEXT value does
#     not fit the char72 field (the exact live-server gotcha class as the
#     r13 NUMC padding: the mock used to accept unbounded lines, so a long
#     IN list or OR group "worked" offline and would hard-fail live);
#   * because ABAP char fields drop TRAILING blanks, a line boundary is a
#     token boundary: wrapping may only break between wire tokens (never
#     inside a quoted literal — losing the literal's interior spacing at
#     the seam would change the WHERE text), and re-concatenating the
#     lines with single spaces must reproduce the original condition.
#
# Since the lines form ONE condition, conjunctive clauses join with an
# explicit ``AND`` on the wire (the server inserts nothing between lines);
# the widen-only escape hatch stays available per clause: a clause with a
# single token wider than 72 chars (one huge literal) has no legal wire
# form at all, so it rides the wire unrendered and the typed
# re-verification applies it exactly — dropping a whole conjunct can only
# WIDEN the server set, the established superset contract.

OPTIONS_LINE_WIDTH = 72

# The RFC_READ_TABLE family returns each row as ONE delimited text line in
# a char512 DATA field (the TAB512 line type — public SAP interface
# knowledge); a projection whose declared output widths plus delimiters
# exceed 512 chars fails server-side with DATA_BUFFER_EXCEEDED.  Validating
# at PLAN time turns a whole-job live failure into an immediate, actionable
# error; 0-length (unknown-width) metadata skips the check — the live
# server remains the authority there.
DATA_BUFFER_WIDTH = 512


def check_row_width(fields: Sequence[RfcField], delimiter: str) -> None:
    """Fail loud at plan time when the projected row cannot fit the BAPI's
    char512 DATA line (the server's DATA_BUFFER_EXCEEDED).  The fix is
    always the same — narrow the projection — so say so."""
    if any(f.length <= 0 for f in fields):
        return  # unknown declared widths: cannot validate client-side
    width = sum(f.length for f in fields) + len(delimiter) * (len(fields) - 1)
    if width > DATA_BUFFER_WIDTH:
        raise ValueError(
            f"projected row width {width} chars exceeds the RFC_READ_TABLE "
            f"DATA buffer ({DATA_BUFFER_WIDTH}, the TAB512 line type) — the "
            "live server would fail with DATA_BUFFER_EXCEEDED; narrow the "
            "projection with the 'fields' option to columns totalling "
            f"<= {DATA_BUFFER_WIDTH} chars including delimiters"
        )


def _wire_tokens(text: str) -> list[str]:
    """Rendered clause text -> its whitespace-separated wire tokens,
    honoring quoted literals (a space inside ``'...'`` never splits;
    doubled quotes toggle the scanner twice and land back inside).  For
    every renderer-emitted clause, ``" ".join(_wire_tokens(c)) == c`` —
    the seam-identity law wrap/re-concat relies on (pinned in
    tests/test_saprfc_source.py)."""
    toks: list[str] = []
    cur: list[str] = []
    in_quote = False
    for ch in text:
        if ch == "'":
            in_quote = not in_quote
            cur.append(ch)
        elif ch == " " and not in_quote:
            if cur:
                toks.append("".join(cur))
                cur = []
        else:
            cur.append(ch)
    if cur:
        toks.append("".join(cur))
    return toks


# wire-drop notices already emitted by this process (executors are separate
# processes; bounded by the distinct dropped-clause texts a job renders)
_WARNED_WIRE_DROPS: set[str] = set()


def _note_wire_drop(clause: str, why: str) -> None:
    """One stderr notice per dropped clause per process (r15 review): the
    drop is semantically safe (typed re-verify applies the predicate
    exactly) but turns a wire-filtered scan into a full-fetch-and-filter —
    an N-fold wire-volume change a user should be able to see."""
    if clause not in _WARNED_WIRE_DROPS:
        _WARNED_WIRE_DROPS.add(clause)
        print(
            f"[saprfc] OPTIONS clause not wire-renderable ({why}); riding "
            f"unfiltered, re-verified typed: {clause[:120]!r}",
            file=sys.stderr,
        )


def wrap_options_lines(clauses: Sequence[str]) -> list[str]:
    """AND-join rendered clauses into one dynamic-WHERE text and wrap it
    across <=72-char OPTIONS lines at token boundaries.

    A clause whose wire form cannot be wrapped legally (one token longer
    than 72 chars, or — defensively — a clause the tokenizer cannot
    round-trip) is DROPPED from the wire: the predicate still sits in the
    reader's accepted list, so the typed re-verification applies it
    exactly, and skipping a conjunct only widens the server set.  Both the
    partition planner's ``row_count`` and ``read()`` consume this same
    function via ``wire_options()``, so planning and fetch always see the
    same server-side stream.  Drops are announced once per clause per
    process on stderr (:func:`_note_wire_drop`)."""
    tokens: list[str] = []
    for clause in clauses:
        toks = _wire_tokens(clause)
        if not toks or max(len(t) for t in toks) > OPTIONS_LINE_WIDTH:
            # no legal wire form: unrendered ride (widen-only)
            _note_wire_drop(clause, f"token wider than {OPTIONS_LINE_WIDTH} chars")
            continue
        if " ".join(toks) != clause:
            # defensive: renderer broke the seam-identity law
            _note_wire_drop(clause, "seam-identity violation")
            continue
        if tokens:
            tokens.append("AND")
        tokens.extend(toks)
    lines: list[str] = []
    cur = ""
    for tok in tokens:
        if not cur:
            cur = tok
        elif len(cur) + 1 + len(tok) <= OPTIONS_LINE_WIDTH:
            cur += " " + tok
        else:
            lines.append(cur)
            cur = tok
    if cur:
        lines.append(cur)
    return lines


# --- streaming pushdown spec ------------------------------------------------
# Spark's Python DataSourceStreamReader has no pushFilters hook (the same API
# gap as P8's projection and P9's limit on the batch side), so the stream
# path accepts an explicit `pushdown` reader option: a semicolon-separated
# conjunction of clauses in the OPTIONS-like grammar below, parsed into the
# SAME Filter dataclasses the batch pushFilters path accepts — which buys the
# whole batch contract verbatim: _render_options renders the wire OPTIONS
# text, and read() re-verifies every predicate on the typed parsed values, so
# the spec is an optimization the server may apply only approximately.

_SPEC_CMP_RE = re.compile(r"^(\w+)\s+(EQ|NE|GT|GE|LT|LE)\s+'((?:[^']|'')*)'$")
_SPEC_IN_RE = re.compile(r"^(\w+)\s+IN\s+\((.*)\)$")
_SPEC_STR_RE = re.compile(
    r"^(\w+)\s+(STARTSWITH|ENDSWITH|CONTAINS)\s+'((?:[^']|'')*)'$"
)
_SPEC_LIT_RE = re.compile(r"'((?:[^']|'')*)'")
# an IN body must be EXACTLY a comma-separated quoted-literal list — findall
# alone would silently ignore junk between literals ("IN ('a' OR 'b')" would
# parse as IN ('a','b')), contradicting the fail-loud contract (r12 advice)
_SPEC_IN_BODY_RE = re.compile(
    r"^\s*'(?:[^']|'')*'(?:\s*,\s*'(?:[^']|'')*')*\s*$"
)

_SPEC_CMP_FILTERS = {
    "EQ": EqualTo,
    "GT": GreaterThan,
    "GE": GreaterThanOrEqual,
    "LT": LessThan,
    "LE": LessThanOrEqual,
}
_SPEC_STR_FILTERS = {
    "STARTSWITH": StringStartsWith,
    "ENDSWITH": StringEndsWith,
    "CONTAINS": StringContains,
}


def _spec_unq(lit: str) -> str:
    return lit.replace("''", "'")


def _typed_literal(raw: str, f: RfcField) -> Any:
    """Coerce a spec literal to the field's parsed type, so the re-verify
    compares like against like (an EQ against a NUMC column must compare
    ints, not the zero-padded wire text).  Fails loud on a literal the
    field's cast rejects — a silently-None literal would make every
    comparison NULL and the stream quietly empty."""
    if isinstance(_spark_type(f), StringType):
        return raw
    v = _py_cast(raw, f)
    if v is None:
        raise ValueError(
            f"pushdown literal {raw!r} does not parse as column "
            f"{f.name}'s type (DDIC {f.type_code!r})"
        )
    return v


def _split_or_terms(clause: str) -> list[str]:
    """Split one conjunctive clause into its ``OR`` disjuncts, honoring
    quoted literals: a character scan tracks quote state (doubled quotes
    toggle twice and land back where they started), so `` OR `` inside a
    literal — ``TABNAME EQ 'A OR B'`` — never splits.  The mock server's
    evaluator deliberately uses a DIFFERENT technique (an even-quote-count
    regex lookahead, rfc.py) so a bug in either splitter is visible to the
    pushed==unpushed fuzz instead of cancelling out."""
    terms: list[str] = []
    in_quote = False
    last = i = 0
    n = len(clause)
    while i < n:
        ch = clause[i]
        if ch == "'":
            in_quote = not in_quote
        elif not in_quote and clause.startswith(" OR ", i):
            terms.append(clause[last:i])
            i += 4
            last = i
            continue
        i += 1
    terms.append(clause[last:])
    return [t.strip() for t in terms]


def _parse_term(clause: str, field_of) -> Filter:
    """Parse ONE simple (OR-free) spec term into a Filter dataclass."""
    if m := _SPEC_CMP_RE.match(clause):
        name, op, lit = m.groups()
        f = field_of(name)
        typed = _typed_literal(_spec_unq(lit), f)
        if op == "NE":
            return Not(EqualTo((name,), typed))
        return _SPEC_CMP_FILTERS[op]((name,), typed)
    if m := _SPEC_IN_RE.match(clause):
        name, body = m.groups()
        f = field_of(name)
        if not body.strip():
            raise ValueError(f"empty IN list in pushdown clause {clause!r}")
        if not _SPEC_IN_BODY_RE.match(body):
            raise ValueError(
                f"malformed IN list in pushdown clause {clause!r}; "
                "expected a comma-separated list of quoted literals"
            )
        lits = [_spec_unq(x) for x in _SPEC_LIT_RE.findall(body)]
        return In((name,), tuple(_typed_literal(x, f) for x in lits))
    if m := _SPEC_STR_RE.match(clause):
        name, op, lit = m.groups()
        f = field_of(name)
        if not isinstance(_spark_type(f), StringType):
            raise ValueError(
                f"pushdown clause {clause!r}: {op} needs a string-typed "
                f"column, but {name} is DDIC {f.type_code!r}"
            )
        return _SPEC_STR_FILTERS[op]((name,), _spec_unq(lit))
    raise ValueError(
        f"unparseable pushdown clause {clause!r}; expected "
        "\"NAME EQ|NE|GT|GE|LT|LE 'lit'\", \"NAME IN ('a', 'b')\" or "
        "\"NAME STARTSWITH|ENDSWITH|CONTAINS 'lit'\" (terms may be joined "
        "with ' OR ' inside one clause)"
    )


def parse_pushdown_spec(spec: str, fields: Sequence[RfcField]) -> list[Filter]:
    """Parse a `pushdown` option string into Filter dataclasses.

    Grammar (clauses joined with ';', evaluated as a conjunction; terms
    inside one clause may be joined with `` OR ``, evaluated as a
    three-valued disjunction — :class:`OrGroup`)::

        NAME EQ|NE|GT|GE|LT|LE 'lit'  comparison against a typed literal
                                      (NE parses to Not(EqualTo) — the
                                      batch path's != shape)
        NAME IN ('a', 'b', ...)       membership (typed literals)
        NAME STARTSWITH|ENDSWITH|CONTAINS 'lit'   string predicates
        term OR term [OR term ...]    disjunction of the shapes above

    Single quotes inside a literal escape by doubling, as in the OPTIONS
    wire text; `` OR `` inside a quoted literal is literal text (the term
    split is quote-aware).  Unknown columns, unknown operators, or
    literals the column's type rejects fail loud — a stream that silently
    dropped a misspelled clause would hand the user the wrong data
    forever.  One grammar limit, also loud: ``;`` is the clause separator
    and cannot appear inside a literal (the split runs before quote
    parsing, so both halves of such a clause are unparseable and raise).
    """
    by_name = {f.name: f for f in fields}

    def field_of(name: str) -> RfcField:
        if name not in by_name:
            raise ValueError(
                f"pushdown references unknown column {name!r}; "
                f"available: {sorted(by_name)}"
            )
        return by_name[name]

    out: list[Filter] = []
    for clause in spec.split(";"):
        clause = clause.strip()
        if not clause:
            continue
        terms = _split_or_terms(clause)
        if len(terms) == 1:
            out.append(_parse_term(terms[0], field_of))
        else:
            out.append(OrGroup(tuple(_parse_term(t, field_of) for t in terms)))
    return out


_SPEC_CMP_OPS = {v: k for k, v in _SPEC_CMP_FILTERS.items()}
_SPEC_STR_OPS = {v: k for k, v in _SPEC_STR_FILTERS.items()}


def _spec_text(lit: Any) -> str:
    """The unquoted literal text the spec renderer emits — shared by the
    quoting and the typed-validation paths so they judge the SAME text."""
    if isinstance(lit, datetime.date):
        return lit.strftime("%Y%m%d")
    return str(lit)


def _spec_q(lit: Any) -> str:
    """Quote a literal for the spec grammar (the inverse of the parse's
    unescape + ``_typed_literal``): ints/Decimals/dates render as the text
    the column's cast parses back to the same value.  ``None`` and bools
    fail loud even WITHOUT a fields list: no column type parses a literal
    back to them (the grammar has no NULL token and no bool domain), so
    they would silently re-parse as the strings ``'None'``/``'True'`` —
    the same silent-retype class the fields validation closes (r13
    advice), but provable without knowing the column."""
    if lit is None or isinstance(lit, bool):
        raise ValueError(
            f"spec grammar cannot express literal {lit!r}: no column type "
            "parses it back (NULL semantics and bools have no spec tokens)"
        )
    text = _spec_text(lit)
    if ";" in text:
        # the documented grammar limit: ';' separates clauses and cannot
        # appear inside a literal — fail loud instead of emitting a spec
        # that parses into two broken halves
        raise ValueError(f"pushdown spec literals cannot contain ';': {lit!r}")
    return "'" + text.replace("'", "''") + "'"


def _check_spec_literal(
    name: str, value: Any, by_name: dict[str, RfcField] | None
) -> None:
    """Typed-literal validation for the spec renderer (round-14, r13
    advice): without it, a literal NOT typed to its column rendered
    silently and parsed back as a DIFFERENT typed value —
    ``EqualTo(('TABNAME',), 5)`` became ``TABNAME EQ '5'``, i.e. the
    string ``'5'``, quietly changing the filter's row set (``_cmp``
    returns None on cross-type compares).  With a ``fields`` list, the
    literal must round-trip through the parse side's ``_typed_literal``
    to the SAME value and type, or this raises like every other
    'cannot express' path."""
    if by_name is None:
        return
    f = by_name.get(name)
    if f is None:
        raise ValueError(
            f"spec grammar cannot express a filter on unknown column "
            f"{name!r}; available: {sorted(by_name)}"
        )
    text = _spec_text(value)
    try:
        back = _typed_literal(text, f)
    except ValueError as e:
        raise ValueError(
            f"spec grammar cannot express literal {value!r} for column "
            f"{name!r}: {e}"
        ) from e
    # type-strict: 5 == 5.0 and True == 1 in Python, but a double/bool
    # literal against an int column would still change the filter
    if back != value or type(back) is not type(value):
        raise ValueError(
            f"spec grammar cannot express literal {value!r} "
            f"({type(value).__name__}) for column {name!r}: the rendered "
            f"text parses back as {back!r} ({type(back).__name__}), "
            "silently changing the filter"
        )


def _spec_term(flt: Filter, by_name: dict[str, RfcField] | None) -> str:
    """Spec text for ONE simple (OR-free) filter; raises on shapes the
    grammar cannot express."""
    if isinstance(flt, Not):
        if isinstance(flt.child, EqualTo):
            c = flt.child
            _check_spec_literal(c.attribute[-1], c.value, by_name)
            return f"{c.attribute[-1]} NE {_spec_q(c.value)}"
        raise ValueError(f"spec grammar cannot express {flt!r}")
    if isinstance(flt, In):
        name = flt.attribute[-1]
        if not flt.value:
            # the parse side rejects an empty IN body, so rendering one
            # would emit text that crashes the consumer at parse time —
            # and Spark's own semantics for it (NULL in, NULL out; the
            # OptimizeIn rewrite) have no spec expression anyway
            raise ValueError(
                f"spec grammar cannot express an empty IN list on {name!r}"
            )
        for v in flt.value:
            _check_spec_literal(name, v, by_name)
        vals = ", ".join(_spec_q(v) for v in flt.value)
        return f"{name} IN ({vals})"
    if (op := _SPEC_CMP_OPS.get(type(flt))) is not None:
        _check_spec_literal(flt.attribute[-1], flt.value, by_name)
        return f"{flt.attribute[-1]} {op} {_spec_q(flt.value)}"
    if (op := _SPEC_STR_OPS.get(type(flt))) is not None:
        name = flt.attribute[-1]
        if by_name is not None:
            f = by_name.get(name)
            if f is None:
                raise ValueError(
                    f"spec grammar cannot express a filter on unknown "
                    f"column {name!r}; available: {sorted(by_name)}"
                )
            if not isinstance(_spark_type(f), StringType):
                raise ValueError(
                    f"spec grammar cannot express {flt!r}: {op} needs a "
                    f"string-typed column, but {name} is DDIC "
                    f"{f.type_code!r}"
                )
            if not isinstance(flt.value, str):
                raise ValueError(
                    f"spec grammar cannot express {flt!r}: {op} needs a "
                    f"string literal, got {type(flt.value).__name__}"
                )
        return f"{name} {op} {_spec_q(flt.value)}"
    raise ValueError(f"spec grammar cannot express {flt!r}")


def render_pushdown_spec(
    filters: Sequence[Filter], fields: Sequence[RfcField] | None = None
) -> str:
    """Inverse of :func:`parse_pushdown_spec`: Filter dataclasses -> the
    ``pushdown`` option's clause text.  The round-trip law — parsing the
    rendered spec yields filters whose typed re-verification selects the
    SAME rows as the originals — is property-tested
    (tests/test_spec_roundtrip.py), which pins the seam the stream path
    opened in round 12 (spec text is the stream's only pushdown surface).
    Raises on shapes the grammar cannot express (``Not`` other than
    ``Not(EqualTo)``, null checks, non-renderable literal types).

    With ``fields`` (round-14, r13 advice), every literal is additionally
    validated against its column's declared type by round-tripping it
    through the parse side's ``_typed_literal``: a mistyped literal used
    to render silently and parse back as a different typed value; now it
    raises loud.  Without ``fields`` the render is purely structural and
    the round-trip identity holds only for column-typed literals (the
    documented contract)."""
    by_name = {f.name: f for f in fields} if fields is not None else None
    clauses = []
    for flt in filters:
        if isinstance(flt, OrGroup):
            clauses.append(
                " OR ".join(_spec_term(c, by_name) for c in flt.children)
            )
        else:
            clauses.append(_spec_term(flt, by_name))
    return "; ".join(clauses)


class _PagePartition(InputPartition):
    """One ROWSKIPS/ROWCOUNT wire call: rows [skip, skip+count) of the
    server-side stream (post-OPTIONS-filter, SAP's filter-then-page
    semantics).  Explicit (skip, count) instead of a page index so the
    stream path's ROW-based offsets can plan partitions across trigger
    boundaries that don't align to pages (a page-indexed partition would
    strand the tail of a partially-revealed page forever)."""

    def __init__(self, skip: int, count: int):
        self.skip = skip
        self.count = count


def _plan_pages(start_row: int, end_row: int, page_size: int) -> list[_PagePartition]:
    """Page-size-bounded partitions covering rows [start_row, end_row)."""
    return [
        _PagePartition(skip, min(page_size, end_row - skip))
        for skip in range(start_row, end_row, page_size)
    ]


class SapRfcReader(DataSourceReader):
    def __init__(self, options: dict, fields: list[RfcField]):
        self.options = options
        self.fields = fields
        self.table = options.get("table", "DD03L")  # reference default, :31
        self.delimiter = options.get("delimiter", DEFAULT_DELIMITER)
        # plan-time TAB512 guard (round 15): a projection wider than the
        # BAPI's char512 DATA line would fail live with
        # DATA_BUFFER_EXCEEDED after the job is already running
        check_row_width(fields, self.delimiter)
        self.page_size = int(options.get("pagesize", DEFAULT_PAGE_SIZE))
        # limit pushdown (the ROWCOUNT bound the reference pages with,
        # pyrfc_read_table.py:71): caps the PLANNED page range — the scan
        # never schedules, fetches, or parses wire rows past the bound,
        # which is the SupportsPushDownLimit posture expressed through a
        # reader option (Spark's Python DS API has no limit hook yet, the
        # same gap as P8's projection option).  maxrows='0' means
        # UNBOUNDED, deliberately matching RFC ROWCOUNT semantics
        # (ROWCOUNT=0 is "no restriction" to the BAPI) rather than SQL's
        # LIMIT 0; negative values fail loud below.
        self.limit = int(options.get("maxrows", 0)) or None
        if self.limit is not None and self.limit < 0:
            # a negative bound would reach the transport as ROWCOUNT < 0:
            # Python-slice semantics on the mock silently return "all but
            # the last N rows", and a live RFC call is undefined — fail loud
            raise ValueError(f"maxrows must be positive, got {self.limit}")
        # explicit `pushdown` option (primarily for the stream path, which
        # has no pushFilters hook; honored on batch too — ignoring it would
        # hand back an unfiltered scan the user asked to filter).  Spark's
        # pushFilters appends on top; read() re-verifies the conjunction.
        spec = options.get("pushdown")
        self.accepted: list[Filter] = (
            parse_pushdown_spec(spec, fields) if spec else []
        )

    def _string_fields(self) -> frozenset[str]:
        """Names of string-typed columns — the only legal LIKE targets for
        OPTIONS rendering (see :func:`_render_options`)."""
        return frozenset(
            f.name for f in self.fields if isinstance(_spark_type(f), StringType)
        )

    def wire_options(self) -> list[str]:
        """The OPTIONS lines read() will put on the wire for the currently
        accepted filters — shared by partition planning (filtered row
        counts) so the planner and the fetch see the SAME server-side
        stream.  Since round 15 these are true BAPI wire lines: the
        rendered clauses AND-join into one dynamic-WHERE text wrapped
        across 72-char lines at token boundaries
        (:func:`wrap_options_lines` — the OPTIONS TEXT field is char72 and
        the server concatenates the lines)."""
        return wrap_options_lines(_render_options(self.accepted, self.fields))

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        known = {f.name for f in self.fields}

        def refs(flt: Filter) -> list[str]:
            # every column a filter touches (OrGroup spans several; Spark's
            # own wire protocol only ever delivers single-column shapes, but
            # OrGroups arrive here from the spec path and the fuzz suite)
            if isinstance(flt, Not):
                return refs(flt.child)
            if isinstance(flt, OrGroup):
                return [n for c in flt.children for n in refs(c)]
            return [flt.attribute[-1]]

        for flt in filters:
            try:
                if all(n in known for n in refs(flt)) and _filter_handled(flt):
                    self.accepted.append(flt)
                    continue
            except AttributeError:
                pass  # filter shape we don't know (no .attribute/.child chain)
            yield flt  # unsupported -> Spark applies it

    def partitions(self) -> list[InputPartition]:
        """Plan one partition per ROWSKIPS/ROWCOUNT page of the SERVER-SIDE
        stream.  With pushed filters the count is the FILTERED row count
        (``row_count(table, options)``) — the server filters before paging,
        so planning from the unfiltered size would schedule empty RFC round
        trips for every page past the filtered stream's end (r12 advice).
        An explicit ``totalrows`` estimate takes precedence (live transports
        have no cheap COUNT) at that documented over-planning cost."""
        n = int(self.options.get("totalrows", 0))
        if not n:
            transport = _transport_from_options(self.options)
            n = transport.row_count(self.table, options=self.wire_options())
        if self.limit is not None:
            n = min(n, self.limit)  # fewer planned pages, not a post-scan limit
        # a degenerate empty plan still issues one probe call (Spark wants
        # >=1 partition); ROWCOUNT=1 not 0 — 0 means "no restriction" to a
        # live server, a silent full fetch
        return _plan_pages(0, n, self.page_size) or [_PagePartition(0, 1)]

    # rows per emitted Arrow batch: bounds builder memory at production page
    # sizes (a 100k-row page becomes ~10 batches) without per-row overhead
    ARROW_BATCH_ROWS = 10_000

    def read(self, partition: _PagePartition):
        """Yield ``pyarrow.RecordBatch`` (not per-row tuples): the page's
        parsed columns cross the Python->JVM boundary as Arrow buffers, one
        (de)serialization per batch instead of one pickled tuple per row —
        the Python Data Source API's vectorized path."""
        import pyarrow as pa

        transport = _transport_from_options(self.options)
        # skip/count are planned by partitions() — page-size-bounded slices
        # of the server-filtered stream, the final one truncated to the
        # limit/count boundary so the wire never carries a row past it
        res = transport.call(
            self.table,
            self.delimiter,
            partition.skip,
            partition.count,
            options=self.wire_options(),
            fields=[f.name for f in self.fields],
        )
        fields = self.fields
        n = len(fields)
        # A corrupt row surfaces with every data column NULL, so a pushed
        # predicate evaluates against the all-NULL dict — null-accepting
        # predicates (IsNull, EqualNullSafe null, Not(IsNotNull)) ARE
        # satisfied by it and must not lose the row (round-1 advice:
        # unconditionally dropping under pushdown diverged from the
        # unpushed plan by the 14 corrupt fixture rows).
        null_row = dict.fromkeys(f.name for f in fields)
        emit_corrupt = all(
            _eval_filter(flt, null_row) is True for flt in self.accepted
        )
        schema = pa.schema(
            [pa.field(f.name, _pa_type(f)) for f in fields]
            + [pa.field(CORRUPT_COL, pa.string())]
        )
        cols: list[list] = [[] for _ in range(n + 1)]

        def flush():
            batch = pa.RecordBatch.from_arrays(
                [pa.array(c, type=t.type) for c, t in zip(cols, schema)],
                schema=schema,
            )
            for c in cols:
                c.clear()
            return batch

        for line in res[res["OUT_TABLE"]]:
            # flush check leads the body so EVERY appending branch (corrupt
            # rows included) honors the batch-size memory bound — a corrupt
            # branch that `continue`d past it could grow the pending batch
            # unboundedly on a long corrupt run
            if len(cols[n]) >= self.ARROW_BATCH_ROWS:
                yield flush()
            # strip(" ") not strip(): the rfc.py parse path trims the WA
            # line with F.trim (ASCII space only) before splitting, and
            # the two ingest paths must type the same wire text identically
            parts = line["WA"].strip(" ").split(self.delimiter)
            if len(parts) != n:
                if emit_corrupt:
                    for c in cols[:n]:
                        c.append(None)
                    cols[n].append(line["WA"])
            else:
                vals = {f.name: _py_cast(p, f) for f, p in zip(fields, parts)}
                if not all(
                    _eval_filter(flt, vals) is True for flt in self.accepted
                ):
                    continue
                for c, f in zip(cols, fields):
                    c.append(vals[f.name])
                cols[n].append(None)
        if cols[n]:
            yield flush()


class SapRfcStreamReader(DataSourceStreamReader):
    """Streaming twin of :class:`SapRfcReader` (S9 x M7): the reference's
    serial ``ROWSKIPS/ROWCOUNT`` page loop
    (`pyrfc_read_table/pyrfc_read_table.py:66-83`) recast as a Structured
    Streaming source — each microbatch covers the ROW range
    ``[startOffset.row, latestOffset.row)`` of the server-side stream,
    split into page-size-bounded InputPartitions that executors fetch
    concurrently, and the engine checkpoints the row offset exactly like a
    Kafka offset.  Reuses the batch reader's Arrow-batched parse.

    **Incremental extraction** (round-13, was frozen-at-construction):
    ``latestOffset()`` re-queries ``transport.row_count`` on EVERY call, so
    a long-running stream observes table growth — each trigger drains
    exactly the rows appended since the last one (``saprfc_stream_
    incremental`` in the registry; per-trigger wire bounds in
    tests/test_saprfc_source.py).  Offsets are ROWS, not pages: a trigger
    boundary rarely lands on a page edge, and a page-indexed offset would
    strand the tail of a partially-revealed page forever.  The offset is
    monotonic (a shrinking count — estimate jitter, table reorg — never
    rewinds it; appended rows surface on the next growth past the
    high-water mark).  Across a RESTART the mark is per-instance, so
    ``partitions()`` re-seeds it from every engine-planned batch and
    clamps each batch to ``[max(start, mark) capped at end,
    max(start, end))`` (round-14, r13 advice): a post-restart count below
    the durable offset plans an empty batch, and even though the engine
    logs that jittered value as its new committed offset, the following
    growth batch resumes at the mark — never a rewind, never re-delivery
    of rows behind the checkpoint (engine-accurate trace in
    tests/test_saprfc_source.py).  RESIDUAL (r14 advice, documented
    limitation): the clamp is per-INSTANCE state, and after a jittered
    empty batch the engine has already logged the jittered value as its
    committed offset — so a SECOND restart before any growth creates a
    fresh reader (mark 0) that honors the engine-replayed
    ``partitions({row: jittered}, ...)`` and re-delivers
    ``[jittered, prior mark)``.  Delivery across that double-restart
    window is therefore AT-LEAST-ONCE, the standard posture for a source
    whose offsets come from a jittery external count; an exactly-once fix
    needs durable reader state the Python DataSourceStreamReader API does
    not offer (the offset log is the only persistence, and it already
    holds the jittered value).  Deduplicate downstream on a key if the
    window matters.  An explicit ``totalrows`` option freezes the size
    (test override / live estimate where COUNT is unavailable), which
    deliberately disables growth observation — and, with a frozen size,
    closes the jitter window entirely.

    **Filter pushdown** (round-12): the ``pushdown`` reader option — a
    conjunctive clause string, grammar in :func:`parse_pushdown_spec` —
    becomes the delegate's accepted-filter list, so the stream reuses the
    batch path verbatim: ``_render_options`` puts the predicates on the
    wire as BAPI OPTIONS text and ``read()`` re-verifies them on the typed
    values.  Offsets then count rows of the FILTERED stream
    (``row_count(table, options)`` — also what stops the planner
    scheduling empty RFC round trips past the filtered end, r12 advice);
    append-only growth keeps filtered positions stable, the same
    filter-then-page contract the batch planner uses.  (Spark's
    DataSourceStreamReader has no pushFilters hook, hence the explicit
    option — the same API gap as P8/P9 on the batch side.)"""

    def __init__(self, options: dict, fields: list[RfcField]):
        # no LIMIT pushdown in the stream path: a bounded stream is a
        # contradiction here (the stream's job is to follow growth);
        # silently stripping the option would hand a user who asked for a
        # bounded stream a full-table stream with no signal, so fail loud.
        if "maxrows" in options:
            raise ValueError(
                "maxrows is not supported on the saprfc stream path (the "
                "stream drains the whole page range incrementally); bound "
                "the stream downstream or use the batch reader"
            )
        self._delegate = SapRfcReader(options, fields)
        # one driver-side transport, held for the stream's lifetime:
        # latestOffset() polls it once per trigger (a live deployment keeps
        # one RFC connection instead of reconnecting per trigger)
        self._transport = _transport_from_options(options)
        self._totalrows = int(options.get("totalrows", 0))
        # two distinct high-water marks (round-14 review — conflating them
        # plans every first batch empty, since latestOffset() runs BEFORE
        # partitions() in a trigger):
        self._latest_row = 0  # largest offset REPORTED; latestOffset floor
        self._planned_row = 0  # largest bound the engine has PLANNED here

    def initialOffset(self) -> dict:
        return {"row": 0}

    def latestOffset(self) -> dict:
        n = self._totalrows or self._transport.row_count(
            self._delegate.table, options=self._delegate.wire_options()
        )
        if n > self._latest_row:
            self._latest_row = n
        return {"row": self._latest_row}

    def partitions(self, start: dict, end: dict):
        # Restart guard (round-14, r13 advice): the high-water mark is
        # per-instance and the stream API exposes the checkpointed start
        # no earlier than this call, so after a query restart the FIRST
        # latestOffset() may sit below the durable start (a row_count
        # estimate that jitters downward) — and the engine both runs that
        # batch AND logs the jittered value as its new committed offset.
        # Two clamps make the jitter harmless:
        #   * hi = max(lo, end): the jittered batch itself plans empty
        #     instead of a negative range;
        #   * lo up to the PLANNED mark: _planned_row holds the largest row
        #     bound the engine has planned through this instance (seeded
        #     below from every batch — deliberately NOT _latest_row, which
        #     latestOffset() already raised to the range this very batch is
        #     about to plan), so when the next growth batch arrives with
        #     the jittered committed offset as its start — partitions(
        #     {row: 800}, {row: 1200}) after [0, 1000) was delivered — the
        #     plan resumes at the mark, never re-delivering [start, mark).
        #     Steady state (start == previous end == mark) is a no-op, and
        #     a fresh instance (restart with a clean WAL replay) has
        #     mark 0, so the engine-replayed batch range is honored as-is.
        lo, hi = start["row"], end["row"]
        if hi < lo:
            hi = lo
        if self._planned_row > lo:
            lo = min(hi, self._planned_row)
        self._planned_row = max(self._planned_row, hi)
        if hi > self._latest_row:
            self._latest_row = hi  # anchor reporting at the durable bound
        return _plan_pages(lo, hi, self._delegate.page_size)

    def read(self, partition: _PagePartition):
        return self._delegate.read(partition)

    def commit(self, end: dict) -> None:
        pass  # row progress is tracked by the engine's offset log


class SapRfcDataSource(DataSource):
    """``spark.read.format("saprfc").option("table", "DD03L").load()``"""

    @classmethod
    def name(cls) -> str:
        return "saprfc"

    def _fields(self) -> list[RfcField]:
        transport = _transport_from_options(self.options)
        # NO_DATA metadata probe (round-15 review): a data-carrying probe
        # against a table wider than the char512 DATA line would fail
        # DATA_BUFFER_EXCEEDED before the caller ever saw the FIELDS
        # widths — making the 'narrow your projection' remediation
        # unreachable.  The BAPI's NO_DATA flag returns FIELDS only.
        meta = transport.call(
            self.options.get("table", "DD03L"),
            self.options.get("delimiter", DEFAULT_DELIMITER),
            0,
            1,
            no_data=True,
        )
        fields = [
            RfcField(f["FIELDNAME"], f["TYPE"], length=int(f.get("LENGTH", 0)))
            for f in meta["FIELDS"]
        ]
        if "fields" in self.options:  # P8: projection -> BAPI FIELDS param
            want = [w.strip() for w in self.options["fields"].split(",")]
            by_name = {f.name: f for f in fields}
            fields = [by_name[w] for w in want]
        return fields

    def schema(self) -> StructType:
        return StructType(
            [StructField(f.name, _spark_type(f), True) for f in self._fields()]
            + [StructField(CORRUPT_COL, StringType(), True)]
        )

    def reader(self, schema: StructType) -> SapRfcReader:
        names = [n for n in schema.fieldNames() if n != CORRUPT_COL]
        by_name = {f.name: f for f in self._fields()}
        return SapRfcReader(self.options, [by_name[n] for n in names])

    def streamReader(self, schema: StructType) -> SapRfcStreamReader:
        names = [n for n in schema.fieldNames() if n != CORRUPT_COL]
        by_name = {f.name: f for f in self._fields()}
        return SapRfcStreamReader(self.options, [by_name[n] for n in names])


# the error conditions of a session that refuses ``conf.set`` on a key
_CONF_REFUSALS = frozenset({"CANNOT_MODIFY_CONFIG", "CANNOT_MODIFY_STATIC_CONFIG"})


def register(spark) -> None:
    spark.dataSource.register(SapRfcDataSource)
    key = "spark.sql.python.filterPushdown.enabled"
    try:
        # without this Spark never calls pushFilters (results are identical,
        # just with a residual FilterExec); set defensively for host sessions
        # that lack our session.py defaults
        spark.conf.set(key, "true")
    except PySparkException as e:
        if e.getCondition() not in _CONF_REFUSALS:
            raise
        # the residual filter is still correct, only the pushdown is lost
        logging.getLogger(__name__).warning(
            "saprfc: session refused %s=true (%s); filters are not pushed to the source",
            key,
            e.getCondition(),
        )
