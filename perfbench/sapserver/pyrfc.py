"""A seeded SAP system behind the ``pyrfc`` connection interface.

The package's live transport (``sources.rfc.PyRfcTransport``) imports
``pyrfc`` and calls ``Connection.call('/SAPDS/RFC_READ_TABLE2', ...)``.  The
benchmark puts this directory first on the driver's and the Python
workers' path, so both the batch extract (``read_rfc_table``) and the
``saprfc`` stream source reach this module instead of a real SAP system:
the production transport code runs, and only the server is simulated.

The served table is a DD03L-alike (the reference's default extraction
target) whose rows are a pure function of ``(client, row index)``; the SAP
client number carries the benchmark seed.  The table is append-only and
unbounded: the client decides its current size through ``ROWCOUNT`` paging
and the reader's ``totalrows`` option, which is how the benchmark grows it
between runs.  Planted rows:

* malformed rows carry a stray delimiter in ROLLNAME (arity 9, not 8), so
  they must land in the dead-letter channel;
* restated rows repeat the key (FIELDNAME) of the row ``RESTATE_LAG``
  positions earlier with new values -- an update the merge must apply.

Every data page served can be logged (``LOG_ENV``), so the benchmark counts
the pages and rows the package really fetched, not the ones it should have.
"""

from __future__ import annotations

import os

# When set, every page served is logged to this file, one line per page:
# ``<pid> <ROWSKIPS> <ROWCOUNT> <rows served>``.  Pages are fetched in
# Python workers as well as in the driver, so the log is a file, appended
# with one write per line.
LOG_ENV = "PERFBENCH_RFC_LOG"

FIELDS = (
    ("TABNAME", "C", 30),
    ("FIELDNAME", "C", 30),
    ("POSITION", "N", 4),
    ("KEYFLAG", "C", 1),
    ("ROLLNAME", "C", 30),
    ("DATATYPE", "C", 4),
    ("LENG", "N", 3),
    ("ASDATE", "D", 8),
)
MALFORMED_EVERY = 31  # about 1 row in 31 is malformed
RESTATE_EVERY = 23  # about 1 row in 23 restates an earlier key
# Restatements start at the end of the initial load and point back one
# initial load; with growth steps below this lag, no delta ever holds two
# rows of one key (merge_upsert's unique-update contract).
RESTATE_LAG = 12_000
_M64 = (1 << 64) - 1


def _mix(x: int) -> int:
    """splitmix64 finaliser: a cheap, well-spread 64-bit hash."""
    x = (x + 0x9E3779B97F4A7C15) & _M64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
    return x ^ (x >> 31)


def row_hash(seed: int, i: int) -> int:
    return _mix((seed << 40) ^ i)


def is_malformed(seed: int, i: int) -> bool:
    return row_hash(seed, i) % MALFORMED_EVERY == 0


def is_restated(seed: int, i: int) -> bool:
    return i >= RESTATE_LAG and (row_hash(seed, i) >> 8) % RESTATE_EVERY == 0


def key_of(seed: int, i: int) -> str:
    """The row's FIELDNAME key: its own index, or for a restated row the
    key of the row it restates (followed back through earlier restatements)."""
    while is_restated(seed, i):
        i -= RESTATE_LAG
    return f"FLD_{i:07d}"


def values(seed: int, i: int) -> list[str]:
    """The eight raw wire values of row ``i`` (padding and all)."""
    h = row_hash(seed, i)
    date = "00000000" if (h >> 12) % 17 == 0 else (
        f"{1995 + (h >> 14) % 25:04d}{1 + (h >> 20) % 12:02d}{1 + (h >> 24) % 28:02d}"
    )
    return [
        f"TAB{(h >> 4) % 53}",
        f" {key_of(seed, i)} ",
        f"00X{(h >> 28) % 97}" if (h >> 28) % 29 == 0 else f"{(h >> 32) % 10000:04d}",
        "X" if (h >> 36) % 5 == 0 else "",
        "ROLL`BAD" if is_malformed(seed, i) else f"ROLL{(h >> 40) % 997}",
        "CHAR" if (h >> 50) % 3 else "NUMC",
        f"{(h >> 52) % 1000:03d}",
        date,
    ]


class Connection:
    """``pyrfc.Connection`` stand-in; ``client`` is the table's seed."""

    def __init__(self, ashost: str, sysnr: str, client: str, user: str, passwd: str):
        self.seed = int(client)

    def call(self, function: str, **params) -> dict:
        if params.get("OPTIONS"):
            raise NotImplementedError("this SAP stand-in serves unfiltered reads only")
        want = [f["FIELDNAME"] for f in params.get("FIELDS", [])]
        names = [f[0] for f in FIELDS]
        keep = [names.index(w) for w in want] if want else list(range(len(FIELDS)))
        meta = [
            {"FIELDNAME": FIELDS[j][0], "TYPE": FIELDS[j][1], "LENGTH": FIELDS[j][2]}
            for j in keep
        ]
        if params.get("NO_DATA") == "X":
            return {"FIELDS": meta, "OUT_TABLE": "DATA", "DATA": []}
        delim = params["DELIMITER"]
        lo = int(params["ROWSKIPS"])
        rows = []
        for i in range(lo, lo + int(params["ROWCOUNT"])):
            v = values(self.seed, i)
            rows.append({"WA": delim.join(v[j] for j in keep)})
        _log(lo, int(params["ROWCOUNT"]), len(rows))
        return {"FIELDS": meta, "OUT_TABLE": "DATA", "DATA": rows}


def _log(skip: int, count: int, served: int) -> None:
    path = os.environ.get(LOG_ENV)
    if path:
        fd = os.open(path, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
        try:
            os.write(fd, f"{os.getpid()} {skip} {count} {served}\n".encode())
        finally:
            os.close(fd)


def served_since(path: str, offset: int) -> tuple[int, int, int]:
    """(pages, rows, new offset): the pages logged to ``path`` after byte
    ``offset``, and the rows they held."""
    try:
        with open(path, "rb") as f:
            f.seek(offset)
            lines = f.read().decode().splitlines()
            offset = f.tell()
    except FileNotFoundError:
        return 0, 0, offset
    return len(lines), sum(int(line.split()[3]) for line in lines), offset
