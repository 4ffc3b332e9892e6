"""Feed heads: each key's newest rows, kept current at every store commit
so that a first page (and the next few) is served without a Spark job.

The reference serves ``getFeedSkeleton`` with one SQLite ``LIMIT`` read.
Here a head is a small Parquet file holding one key's newest ``H`` rows
in serving order (``indexedAt DESC, cid DESC``, exactly as
:func:`.operators.topk.keyset_page` orders them) plus a ``whole_key``
flag. It is written at commit time by :class:`.store.PostStore` and read
on the driver by :class:`.serving.FeedServer`; any request a head cannot
answer runs the keyed Spark plan, which stays the reference.

Validity. A head is named by a *token*: a digest of the key's live data
files as :meth:`.table_format.TableFormat.key_files` lists them. Data
files are immutable and uniquely named, so an equal listing means equal
contents; any commit to the key, by ``PostStore`` or by anyone else,
changes the listing, and a head whose token does not match is never
read. The heads of a store live at ``<store>/_heads/key=<escaped>/``,
one file per key, replaced atomically (temp file, then ``os.replace``).

Invariant. A head holds a prefix of the key in serving order, and every
row of the key outside the head sorts strictly after every row inside
it: a head never ends inside a group of rows tied on ``(indexedAt,
cid)``. This is what makes the derivations below exact without reading
the key: retention, refresh and CDC deletes cut or filter the old head,
and an upsert merges the old head with the batch's own head.

Heads assume one writer per store during a commit: a foreign commit to
the same key that lands between ``PostStore``'s commit and its head
write would be folded into the new token without being folded into the
head.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .operators.topk import parse_cursor
from .table_format import escape_partition_value

#: rows per head: three pages at ``serving.MAX_PAGE_LIMIT``
H = 300

HEADS_DIR = "_heads"


def _order(row: tuple) -> tuple:
    """Sort key of a ``(us, cid, uri)`` row; sorted with ``reverse=True``
    it gives serving order, newest first. Python ``str`` order is
    code-point order, which is the UTF-8 byte order Spark compares
    strings in. ``PostStore.upsert`` stores no row with a NULL
    ``indexedAt`` or ``cid``."""
    return row[0], row[1]


@dataclass(frozen=True)
class Head:
    rows: tuple  # ((us, cid, uri), ...) in serving order
    whole: bool  # the rows are all of the key

    def page(self, limit: int, cursor: str | None) -> list[tuple] | None:
        """The page ``keyset_page`` would return, or None when the head
        cannot tell it (fewer than ``limit`` rows after the cursor and
        not the whole key). The cursor predicate is the Spark one."""
        rows = self.rows
        if cursor:
            c = parse_cursor(cursor)
            rows = [r for r in rows if _order(r) < c]
        if len(rows) < limit and not self.whole:
            return None
        return list(rows[:limit])

    def cut(self) -> "Head":
        """At most the first ``H`` rows, keeping the invariant: a tie
        group that straddles the cut is left out whole."""
        rows, n = self.rows, H
        if len(rows) <= n:
            return self
        i = n
        while i > 0 and _order(rows[i - 1]) == _order(rows[n]):
            i -= 1
        return Head(rows[:i], False)


EMPTY = Head((), True)


def _sorted(rows) -> tuple:
    return tuple(sorted(rows, key=_order, reverse=True))


def merge(old: Head, new: Head) -> Head:
    """Head of the union of two disjoint row sets, given a head of each.
    Known rows are certain only down to the last row of any head that
    is not whole: below it, that side's unknown rows may sort in."""
    rows = _sorted(old.rows + new.rows)
    for h in (old, new):
        if not h.whole:
            if not h.rows:
                return Head((), False)
            floor = _order(h.rows[-1])
            rows = tuple(r for r in rows if _order(r) >= floor)
    return Head(rows, old.whole and new.whole).cut()


def retained(old: Head, cap: int) -> Head | None:
    """Head after retention kept the newest ``cap`` rows of a key that
    held more than ``cap``; None when the cut falls inside a tie, where
    Spark's choice of survivors is not known."""
    rows = old.rows
    if cap > len(rows):
        return old
    if 0 < cap < len(rows) and _order(rows[cap - 1]) == _order(rows[cap]):
        return None
    return Head(rows[:cap], True)


def refreshed(old: Head, n: int) -> Head | None:
    """Head after the ``n`` newest rows were dropped; None when that is
    not known from the head (a cut inside a tie, or past a partial
    head)."""
    rows = old.rows
    if n >= len(rows):
        return EMPTY if old.whole else None
    if _order(rows[n - 1]) == _order(rows[n]):
        return None
    return Head(rows[n:], old.whole)


def without(old: Head, uris: set) -> Head:
    """Head after a CDC delete of ``uris``."""
    return Head(tuple(r for r in old.rows if r[2] not in uris), old.whole)


# -- Spark side ------------------------------------------------------------


def top_rows(df: DataFrame) -> DataFrame:
    """Per key, the newest ``H + 1`` rows in head form plus the key's row
    count ``_n``: one shuffle, whose collect feeds :func:`from_top`."""
    ranked = Window.partitionBy("key").orderBy(
        F.col("indexedAt").desc(), F.col("cid").desc()
    )
    # the count shares the ranking's window, so one sort serves both
    whole = ranked.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        df.select(
            "key",
            "uri",
            "cid",
            F.unix_micros("indexedAt").alias("us"),
            F.row_number().over(ranked).alias("_rn"),
            F.count("*").over(whole).alias("_n"),
        )
        .filter(F.col("_rn") <= H + 1)
        .drop("_rn")
    )


def from_top(rows) -> tuple[dict[str, int], dict[str, Head]]:
    """(row count per key, head per key) from collected ``top_rows``."""
    counts: dict[str, int] = {}
    found: dict[str, list] = {}
    for r in rows:
        counts[r["key"]] = r["_n"]
        found.setdefault(r["key"], []).append((r["us"], r["cid"], r["uri"]))
    heads = {
        k: Head(_sorted(v), counts[k] == len(v)).cut() for k, v in found.items()
    }
    return counts, heads


# -- files -----------------------------------------------------------------


def token(files: list[str]) -> str:
    """Digest of a key's live data-file listing."""
    return hashlib.blake2b("\n".join(sorted(files)).encode(), digest_size=16).hexdigest()


def key_dir(root: str, key: str) -> str:
    return os.path.join(root, HEADS_DIR, f"key={escape_partition_value(key)}")


def _schema():
    import pyarrow as pa

    return pa.schema([("us", pa.int64()), ("cid", pa.string()), ("uri", pa.string())])


def load(root: str, key: str, tok: str) -> tuple[str, Head | None]:
    """``("head", head)`` when the key has a readable head for ``tok``;
    otherwise ``("stale", None)`` when it has heads for other listings
    only, or ``("no_head", None)``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = key_dir(root, key)
    try:
        names = [n for n in os.listdir(d) if not n.startswith(".")]
    except FileNotFoundError:
        return "no_head", None
    if f"{tok}.parquet" not in names:
        return ("stale" if names else "no_head"), None
    try:
        with pq.ParquetFile(os.path.join(d, f"{tok}.parquet")) as f:
            t = f.read()
    except (OSError, pa.ArrowException):  # torn: the Spark plan answers
        return "no_head", None
    whole = (t.schema.metadata or {}).get(b"whole_key")
    if whole not in (b"0", b"1") or not t.schema.remove_metadata().equals(_schema()):
        return "no_head", None
    cols = t.to_pydict()
    return "head", Head(tuple(zip(cols["us"], cols["cid"], cols["uri"])), whole == b"1")


def write(root: str, key: str, tok: str, head: Head) -> None:
    """Replace the key's head with ``head`` under ``tok``: the new file
    lands atomically, then the key's older heads are removed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = key_dir(root, key)
    os.makedirs(d, exist_ok=True)
    cols = list(zip(*head.rows)) or [(), (), ()]
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, _schema())],
        schema=_schema().with_metadata({"whole_key": "1" if head.whole else "0"}),
    )
    final = f"{tok}.parquet"
    tmp = os.path.join(d, f".{uuid.uuid4().hex}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(d, final))
    for n in os.listdir(d):
        if n != final and not n.startswith("."):
            try:
                os.remove(os.path.join(d, n))
            except FileNotFoundError:
                pass


def drop(root: str, key: str) -> None:
    shutil.rmtree(key_dir(root, key), ignore_errors=True)
