"""SAP RFC table source — the reference's entire dataflow, distributed.

The reference (/root/reference/pyrfc_read_table/pyrfc_read_table.py) pulls an
SAP table through BAPI ``/SAPDS/RFC_READ_TABLE2`` in a *serial* page loop on
one thread (:66-83), parses each backtick-delimited row against the FIELDS
metadata (:128-149), splits valid from malformed rows (:143-149), trims and
best-effort-casts (:169,172-174) and writes parquet/json plus a dead-letter
prefix to S3 (:180-221).

This module re-expresses each stage Spark-first:

* **packed paged scan** — pages are planned up front and fetched by
  executors in parallel (``read_rfc_table``), the distributed analogue of the
  reference's ``ROWSKIPS/ROWCOUNT`` loop (S1/S2).  Each task fetches one
  contiguous, ordered run of pages through one transport, with one task per
  core slot (Spark's ``defaultParallelism``), the way Spark's file scan
  packs small files: a Python worker task has a fixed cost far above one
  page's work (README, "Scale design").  On a 1000-executor cluster a
  10^9-row SAP table still becomes 1000 concurrent page streams instead of
  10^4 serial round-trips.
* **schema-from-catalog** — FIELDS metadata -> typed parse plan (S3).
* **parse / validate / cast** — one ``select`` of built-in expressions
  (split, F.get, trim, try_cast): P1-P5, all whole-stage-codegen.
* **valid / dead-letter split** — two filters over one cached parse (S6).
* **run-partitioned sinks** — parquet / json-lines under
  ``<fmt>/<table>/<run_ts>/`` with the error channel beside it (S4/S5/S7).

A real SAP deployment would plug a ``pyrfc``-backed transport into the same
interface (``RfcTransport``); the mock transport replays deterministic
fixture payloads so everything is testable offline (SURVEY §7 M7).
"""

from __future__ import annotations

import math
import re
from collections.abc import Callable, Iterator, Sequence
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.ddic import ddic_cast

if TYPE_CHECKING:
    # imported inside ``fetch``: a stream-source runner or planner worker
    # that imports this module through saprfc_dsv2 never needs pandas
    import pandas as pd

DEFAULT_DELIMITER = "`"  # reference default, pyrfc_read_table.py:32
DEFAULT_PAGE_SIZE = 100_000  # reference rowCount, pyrfc_read_table.py:33


@dataclass(frozen=True)
class RfcField:
    """One FIELDS record: {FIELDNAME, TYPE} (pyrfc_read_table.py:128-133).

    ``length`` is the declared DDIC output length (the BAPI's FIELDS
    LENGTH column).  It matters for exactly one thing client-side:
    zero-padding numeric literals rendered against NUMC ('N') columns in
    OPTIONS text — SAP stores NUMC right-aligned zero-padded and its
    open-SQL dynamic conditions compare character-wise, so an unpadded
    ``POSITION GT '250'`` silently misses ``'0999'`` (the classic
    RFC_READ_TABLE integration gotcha).  0 means unknown: the renderer
    then skips the clause (rides the wire unfiltered, re-verified typed).
    """

    name: str
    type_code: str  # DDIC one-char code: C N D T P F I X g ...
    decimal_scale: int = 3  # scale for P (packed decimal) fields
    length: int = 0  # declared output length; 0 = unknown


# ---------------------------------------------------------------------------
# Transport
# ---------------------------------------------------------------------------


class RfcTransport:
    """Minimal RFC_READ_TABLE2-shaped transport interface.

    ``call`` mirrors the BAPI signature the reference uses
    (pyrfc_read_table.py:71): table, delimiter, ROWSKIPS/ROWCOUNT paging, plus
    the OPTIONS (where-clause text) and FIELDS (projection) parameters the
    BAPI supports but the reference never passes (SURVEY §2.2 P7/P8).
    Returns the reference's wire shape: FIELDS metadata + rows of single
    delimited strings under key ``WA``.
    """

    def call(
        self,
        query_table: str,
        delimiter: str,
        rowskips: int,
        rowcount: int,
        options: Sequence[str] = (),
        fields: Sequence[str] = (),
        no_data: bool = False,
    ) -> dict:
        """``no_data=True`` maps to the BAPI's ``NO_DATA`` flag (public
        RFC_READ_TABLE-family interface): the server returns the FIELDS
        metadata and NO rows — the metadata-discovery call, and the only
        way to probe a table whose full row width exceeds the char512
        DATA line (a data-carrying probe would fail DATA_BUFFER_EXCEEDED
        before the caller ever learns the widths it needs to narrow the
        projection)."""
        raise NotImplementedError

    def row_count(self, query_table: str, options: Sequence[str] = ()) -> int:
        """Total rows, used for partition planning.  With ``options`` (the
        same OPTIONS lines ``call`` will receive), the count of rows the
        server's WHERE evaluation keeps — the page-planning input for a
        pushed-down scan, so the planner never schedules RFC round trips
        for pages past the filtered stream's end.  A live SAP transport
        implements this with a COUNT(*) RFC call (or the caller passes an
        estimate to ``read_rfc_table`` / the ``totalrows`` option, at the
        documented cost of over-planning empty pages under pushdown)."""
        raise NotImplementedError


RFC_READ_FUNCTION = "/SAPDS/RFC_READ_TABLE2"  # reference rfcFunction, :34


class PyRfcTransport(RfcTransport):
    """Live SAP transport over ``pyrfc.Connection`` — the reference's
    connection path (`pyrfc_read_table.py:61-71`) behind this module's
    transport interface.

    pyrfc (SAP NetWeaver RFC SDK binding) is not installable in this
    container, so the import is deferred to construction and tests inject a
    fake module; the call shape below is the BAPI's public interface:
    ``conn.call('/SAPDS/RFC_READ_TABLE2', QUERY_TABLE=..., DELIMITER=...,
    ROWSKIPS=..., ROWCOUNT=..., OPTIONS=[{'TEXT': ...}], FIELDS=[
    {'FIELDNAME': ...}])``.

    ``row_count`` is deliberately unimplemented: RFC_READ_TABLE2 exposes no
    cheap COUNT, and the reference streams pages until a short read instead.
    Partition planning against a live system passes ``totalrows`` (an
    estimate is fine — the final page is simply short/empty).
    """

    def __init__(self, ashost: str, sysnr: str, client: str, user: str, passwd: str):
        try:
            import pyrfc  # type: ignore[import-not-found]
        except ImportError as e:  # pragma: no cover - exercised via fake module
            raise ImportError(
                "PyRfcTransport requires the pyrfc package (SAP NW RFC SDK)"
            ) from e
        self._conn = pyrfc.Connection(
            ashost=ashost, sysnr=sysnr, client=client, user=user, passwd=passwd
        )

    def call(
        self,
        query_table: str,
        delimiter: str,
        rowskips: int,
        rowcount: int,
        options: Sequence[str] = (),
        fields: Sequence[str] = (),
        no_data: bool = False,
    ) -> dict:
        kwargs: dict = {
            "QUERY_TABLE": query_table,
            "DELIMITER": delimiter,
            "ROWSKIPS": rowskips,
            "ROWCOUNT": rowcount,
        }
        if no_data:
            kwargs["NO_DATA"] = "X"  # metadata-only: FIELDS out, no rows
        if options:
            kwargs["OPTIONS"] = [{"TEXT": line} for line in options]
        if fields:
            kwargs["FIELDS"] = [{"FIELDNAME": f} for f in fields]
        return self._conn.call(RFC_READ_FUNCTION, **kwargs)

    def row_count(self, query_table: str, options: Sequence[str] = ()) -> int:
        raise NotImplementedError(
            "live RFC has no cheap row count; pass totalrows to the reader"
        )


class MockRfcTransport(RfcTransport):
    """Deterministic in-memory SAP: generates a DD03L-alike table (the
    reference's default QUERY_TABLE, pyrfc_read_table.py:31) per FIXTURES.md
    §B — seed-stable, ~5% malformed rows, initial dates, bad N values."""

    FIELDS: tuple[RfcField, ...] = (
        RfcField("TABNAME", "C", length=30),
        RfcField("FIELDNAME", "C", length=30),
        RfcField("POSITION", "N", length=4),
        RfcField("KEYFLAG", "C", length=1),
        RfcField("ROLLNAME", "C", length=30),
        RfcField("DATATYPE", "C", length=4),
        RfcField("LENG", "N", length=3),
        RfcField("ASDATE", "D", length=8),
    )

    def __init__(self, n_rows: int = 2500):
        self.n_rows = n_rows

    def _vals(self, i: int) -> list[str]:
        """Raw wire values for row i, pre-corruption."""
        return [
            f"TAB{i % 7}",
            f" FLD_{i:05d} ",  # padded: exercises trim (ref :169)
            f"00X{i % 97}" if i % 13 == 0 else f"{i % 500:04d}",  # bad N sometimes
            "X" if i % 5 == 0 else "",
            f"ROLL{i % 11}",
            "CHAR" if i % 3 else "NUMC",
            f"{(i * 7) % 120:03d}",
            "00000000" if i % 11 == 0 else f"{1995 + i % 25:04d}{1 + i % 12:02d}{1 + i % 28:02d}",
        ]

    def _row(self, i: int, keep: Sequence[int] | None = None) -> str:
        vals = self._vals(i)
        if i % 37 == 0:  # malformed: stray delimiter -> arity mismatch (ref :143-149)
            vals[4] = "ROLL`BAD"
        if keep is not None:
            vals = [vals[j] for j in keep]
        return DEFAULT_DELIMITER.join(vals)

    def row_count(self, query_table: str, options: Sequence[str] = ()) -> int:
        if not options:
            return self.n_rows
        conjuncts = self._where_conjuncts(options)
        return sum(1 for i in range(self.n_rows) if self._matches(i, conjuncts))

    # the BAPI OPTIONS parameter's TEXT field is a char72 line (public SAP
    # interface knowledge — the RFC_READ_TABLE family's options table); the
    # server concatenates the lines into ONE dynamic WHERE condition.  A
    # longer line does not fit the field, so a faithful server model must
    # REJECT it — the r12-advice lesson again: a lenient mock (unbounded
    # lines, line == clause) hid exactly the live-server failure the
    # round-15 client wrap exists to prevent.
    OPTIONS_LINE_WIDTH = 72

    # split the re-concatenated WHERE text into its top-level conjuncts on
    # AND tokens OUTSIDE quoted literals — same even-quote-count lookahead
    # technique as the OR splitter below (AND never appears between a
    # group's parens except inside a literal, which the lookahead protects)
    _OPT_AND_SPLIT_RE = re.compile(r"\s+AND\s+(?=(?:[^']*'[^']*')*[^']*$)")

    def _where_conjuncts(self, options: Sequence[str]) -> list[str]:
        """Model the server's line handling: enforce the char72 width,
        re-concatenate the lines (ABAP char fields keep no trailing
        blanks, so lines join with a single space — a client that wrapped
        mid-token loses the seam here and fails the pushed==unpushed
        fuzz), then split the resulting condition into top-level
        conjuncts."""
        for line in options:
            if len(line) > self.OPTIONS_LINE_WIDTH:
                raise ValueError(
                    f"OPTIONS line exceeds {self.OPTIONS_LINE_WIDTH} chars "
                    f"(the BAPI TEXT field width): {line!r}"
                )
        text = " ".join(line.rstrip() for line in options).strip()
        if not text:
            return []
        return self._OPT_AND_SPLIT_RE.split(text)

    _OPT_RE = re.compile(r"^(\w+)\s+(EQ|NE|GT|GE|LT|LE)\s+'(.*)'$")
    _OPT_IN_RE = re.compile(r"^(\w+)\s+IN\s+\((.*)\)$")
    _OPT_LIKE_RE = re.compile(r"^(\w+)\s+LIKE\s+'(.*)'$")
    _IN_LIT_RE = re.compile(r"'((?:[^']|'')*)'")
    # parenthesized disjunction line: "( term OR term [OR term ...] )" —
    # open-SQL accepts OR with parentheses inside a dynamic WHERE
    _OPT_GROUP_RE = re.compile(r"^\(\s+(.*)\s+\)$")
    # split the group body on OR tokens OUTSIDE quoted literals: the
    # lookahead admits a split point only when the remaining text holds an
    # even number of quotes (every complete literal contributes an even
    # count — escaped quotes are doubled).  Deliberately a DIFFERENT
    # technique from the client's character-scan splitter
    # (saprfc_dsv2._split_or_terms), so a bug in either side surfaces in
    # the pushed==unpushed fuzz instead of cancelling out.
    _OPT_OR_SPLIT_RE = re.compile(r"\s+OR\s+(?=(?:[^']*'[^']*')*[^']*$)")

    @staticmethod
    def _unq(lit: str) -> str:
        """SQL quote unescape: the client doubles single quotes inside a
        quoted literal; the server reads them back as one."""
        return lit.replace("''", "'")

    def _matches(self, i: int, conjuncts: Sequence[str]) -> bool:
        """Server-side evaluation of the re-concatenated WHERE's top-level
        conjuncts (from :meth:`_where_conjuncts`) — what SAP's open-SQL
        dynamic WHERE does over char-class columns: CHARACTER comparison
        against the stored representation — NUMC values are compared as
        the zero-padded text they are stored as, never numerically
        coerced.  This is the well-known RFC_READ_TABLE behavior that
        makes clients zero-pad NUMC literals (``'0999' GT '250'`` is FALSE
        char-wise); the round-12 mock coerced both sides to int when they
        parsed, which hid exactly that client bug from the fuzz suite
        (r12 advice).  Values trim with ``.strip(' ')`` (ASCII space
        only), mirroring the client's F.trim twin — bare ``str.strip()``
        eats unicode whitespace the client keeps (r12 advice, second
        item).  Supports comparison conjuncts (``NAME EQ|NE|GT|GE|LT|LE
        'lit'``), ``NAME IN ('a', 'b')`` value lists, ``NAME LIKE 'pat'``
        with SQL ``%``/``_`` wildcards, and parenthesized disjunctions
        ``( term OR term )`` — the shapes the DSv2 client renders
        (saprfc_dsv2._render_options)."""
        names = [f.name for f in self.FIELDS]
        raw = dict(zip(names, (v.strip(" ") for v in self._vals(i))))
        for opt in conjuncts:
            if m := self._OPT_GROUP_RE.match(opt):
                terms = self._OPT_OR_SPLIT_RE.split(m.group(1))
                if not any(self._eval_line(raw, t) for t in terms):
                    return False
                continue
            if not self._eval_line(raw, opt):
                return False
        return True

    def _eval_line(self, raw: dict, opt: str) -> bool:
        """One simple (OR-free) OPTIONS term against one stored row."""
        if m := self._OPT_IN_RE.match(opt):
            name, body = m.groups()
            v = raw[name]
            lits = [self._unq(x) for x in self._IN_LIT_RE.findall(body)]
            return any(v == lit for lit in lits)
        if m := self._OPT_LIKE_RE.match(opt):
            name, pat = m.groups()
            # SQL LIKE -> anchored regex: % = any run, _ = any char,
            # everything else literal (after quote-unescape)
            rx = "".join(
                ".*" if ch == "%" else "." if ch == "_" else re.escape(ch)
                for ch in self._unq(pat)
            )
            return re.fullmatch(rx, raw[name]) is not None
        m = self._OPT_RE.match(opt)
        if not m:
            raise ValueError(f"unparseable OPTIONS line: {opt!r}")
        name, op, lit = m.groups()
        a, b = raw[name], self._unq(lit)
        return {
            "EQ": a == b,
            "NE": a != b,
            "GT": a > b,
            "GE": a >= b,
            "LT": a < b,
            "LE": a <= b,
        }[op]

    def call(
        self,
        query_table: str,
        delimiter: str,
        rowskips: int,
        rowcount: int,
        options: Sequence[str] = (),
        fields: Sequence[str] = (),
        no_data: bool = False,
    ) -> dict:
        names = [f.name for f in self.FIELDS]
        keep = [names.index(f) for f in fields] if fields else None
        meta = [self.FIELDS[j] for j in keep] if keep is not None else list(self.FIELDS)
        # server-side row-width check: RFC_READ_TABLE-family rows travel in
        # a char512 DATA line (TAB512), so a DATA-CARRYING call whose
        # projected widths + delimiters exceed 512 raises
        # DATA_BUFFER_EXCEEDED — the overflow the client's plan-time guard
        # (saprfc_dsv2.check_row_width) exists to catch before the job
        # runs.  A NO_DATA call ships no rows, so the width never applies:
        # that is precisely how a client discovers the FIELDS metadata of
        # a too-wide table in order to narrow its projection.
        if no_data:
            return {
                "FIELDS": [
                    {"FIELDNAME": f.name, "TYPE": f.type_code, "LENGTH": f.length}
                    for f in meta
                ],
                "OUT_TABLE": "DATA",
                "DATA": [],
            }
        if all(f.length > 0 for f in meta):
            width = sum(f.length for f in meta) + len(delimiter) * (len(meta) - 1)
            if width > 512:
                raise ValueError(
                    f"DATA_BUFFER_EXCEEDED: projected row width {width} > 512"
                )
        conjuncts = self._where_conjuncts(options) if options else []
        ids = (i for i in range(self.n_rows) if not conjuncts or self._matches(i, conjuncts))
        ids = list(ids)[rowskips : rowskips + rowcount]
        rows = [{"WA": self._row(i, keep)} for i in ids]
        return {
            # LENGTH is the BAPI's declared output length column — the
            # client needs it to zero-pad NUMC literals in OPTIONS text
            "FIELDS": [
                {"FIELDNAME": f.name, "TYPE": f.type_code, "LENGTH": f.length}
                for f in meta
            ],
            "OUT_TABLE": "DATA",
            "DATA": rows,
        }


# ---------------------------------------------------------------------------
# Distributed scan: contiguous page runs, one per core slot (S1/S2)
# ---------------------------------------------------------------------------


def read_rfc_table(
    spark: SparkSession,
    transport_factory: Callable[[], RfcTransport],
    query_table: str,
    *,
    page_size: int = DEFAULT_PAGE_SIZE,
    delimiter: str = DEFAULT_DELIMITER,
    total_rows: int | None = None,
) -> tuple[DataFrame, list[RfcField]]:
    """Parallel paged scan of an RFC table.

    Plans the ``ROWSKIPS/ROWCOUNT`` pages up front and splits them into
    ``min(n_pages, defaultParallelism)`` contiguous runs.  Each task opens
    one transport (one RFC logon) and fetches its run in page order inside
    ``mapInPandas`` (Arrow-batched), one page in memory at a time, so the
    wire parallelism scales with the cluster instead of the reference's
    one-page-in-flight loop, without paying a Python worker task per page.
    Returns (raw WA DataFrame with its ``page`` id, FIELDS metadata).
    """
    probe = transport_factory()
    # NO_DATA: metadata-only probe — works even on tables whose full row
    # width exceeds the char512 DATA line (see RfcTransport.call)
    meta = probe.call(query_table, delimiter, 0, 1, no_data=True)
    fields = [
        RfcField(f["FIELDNAME"], f["TYPE"], length=int(f.get("LENGTH", 0)))
        for f in meta["FIELDS"]
    ]
    n = total_rows if total_rows is not None else probe.row_count(query_table)
    n_pages = max(1, math.ceil(n / page_size))

    # range slices are contiguous and differ by at most one page, with no
    # shuffle (a round-robin repartition would scatter each task's pages)
    pages = spark.range(0, n_pages, 1, min(n_pages, spark.sparkContext.defaultParallelism))

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        transport = transport_factory()
        for b in batches:
            for page in b["id"]:
                res = transport.call(
                    query_table, delimiter, int(page) * page_size, page_size
                )
                rows = res[res["OUT_TABLE"]]
                yield pd.DataFrame(
                    {
                        "wa": [r["WA"] for r in rows],
                        "page": [int(page)] * len(rows),
                    }
                )

    raw = pages.mapInPandas(fetch, "wa STRING, page BIGINT")
    return raw, fields


# ---------------------------------------------------------------------------
# Parse / validate / cast (P1-P5) and the valid/error split (S6)
# ---------------------------------------------------------------------------


@dataclass
class ParsedRfc:
    """One parse, two channels (the reference's data/data_err split,
    pyrfc_read_table.py:143-149).  Both channels filter ``tagged``, so a
    consumer of both persists it to read the source once."""

    valid: DataFrame
    errors: DataFrame  # original WA line + observed arity
    tagged: DataFrame  # the split WA lines with their arity
    fields: list[RfcField] = field(default_factory=list)


def parse_rfc_frame(
    raw: DataFrame,
    fields: Sequence[RfcField],
    *,
    delimiter: str = DEFAULT_DELIMITER,
    wa_col: str = "wa",
) -> ParsedRfc:
    """P1 delimited parse -> P2 arity validity -> P3 naming -> P4 trim ->
    P5 DDIC cast, as one declarative select (single pass, codegen'd).

    ``F.get`` (null-safe indexing) instead of ``element_at`` so malformed
    short rows never raise under ANSI mode.
    """
    n = len(fields)
    # F.split's pattern is a Java regex; escape so a metacharacter delimiter
    # ('|', '.') splits literally, matching the DSv2 twin's str.split and the
    # reference's literal split (round-1 advice).  re.escape backslash-escapes
    # every non-alphanumeric, which Java regex reads as the literal char.
    arr = F.split(F.trim(F.col(wa_col)), re.escape(delimiter), -1)
    tagged = raw.withColumn("__arr", arr).withColumn("__arity", F.size(F.col("__arr")))

    typed: list[Column] = [
        ddic_cast(F.get(F.col("__arr"), i), f.type_code, decimal_scale=f.decimal_scale).alias(
            f.name
        )
        for i, f in enumerate(fields)
    ]
    valid = tagged.filter(F.col("__arity") == n).select(*typed)
    errors = tagged.filter(F.col("__arity") != n).select(
        F.col(wa_col).alias("wa"), F.col("__arity").alias("arity")
    )
    return ParsedRfc(valid=valid, errors=errors, tagged=tagged, fields=list(fields))


def ingest_counts(parsed: ParsedRfc) -> dict[str, int]:
    """The reference's per-run counters (pyrfc_read_table.py:119-153):
    valid + err must equal total."""
    v = parsed.valid.count()
    e = parsed.errors.count()
    return {"valid_count": v, "err_count": e, "total_count": v + e}
