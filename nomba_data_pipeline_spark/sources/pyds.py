"""Custom connector via Spark 4's Python DataSource API.

The reference talks to its sources through hand-rolled paginated
clients (Mongo batched cursors, base_loader.py:100-206's fetchmany
loop). Spark 4 gives that pattern a first-class seam: a Python
`DataSource` whose reader PLANS one partition per page and applies
the incremental predicate inside the read — so pagination and
high-water-mark pushdown live in the connector, and everything above
it is an ordinary DataFrame.

`paged_json` models the shape: a directory of JSON-lines files where
each FILE is one API page. Partition planning is the sorted file
listing (one Spark task per page — the parallelism story of
JdbcSource's key-range splits, without a JDBC driver), and the
optional `since`/`tracking_column` options filter rows AT THE SOURCE,
the same server-side `updated_at > hwm` the reference pushes into its
Mongo query ($gte, mongodb_loader.py). At 100 TB the page listing is
metadata-only and unmatched pages/rows never leave the reader.

Supported column types (schema option, DDL string): bigint, double,
string — the JSON-native scalars. Anything richer belongs in a
columnar format; this connector is the INGEST edge.

The same format is ALSO a streaming source (`spark.readStream
.format("paged_json")`): each micro-batch plans exactly the pages
that appeared since the checkpointed offset — the always-on form of
the reference's cron-scheduled incremental extracts (see
PagedJsonStreamReader).
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)


class PagedJsonDataSource(DataSource):
    """`spark.read.format("paged_json").option("path", dir)
    .option("schema_ddl", "id bigint, v string")
    [.option("tracking_column", "updated_at").option("since", "...")]`"""

    @classmethod
    def name(cls) -> str:
        return "paged_json"

    def schema(self):
        ddl = self.options.get("schema_ddl")
        if not ddl:
            raise ValueError("paged_json requires the schema_ddl option")
        return ddl

    def reader(self, schema):
        return PagedJsonReader(schema, self.options)

    def streamReader(self, schema):
        return PagedJsonStreamReader(schema, self.options)


_CASTS = {
    "bigint": lambda v: None if v is None else int(v),
    "double": lambda v: None if v is None else float(v),
    "string": lambda v: None if v is None else str(v),
}


class _PagedJsonBase:
    """Shared option parsing, page listing, and per-page row decode for
    the batch and streaming readers (identical read path; only the
    PLANNING differs — full listing vs listing delta between offsets)."""

    def __init__(self, schema, options):
        self.schema = schema
        self.path = options.get("path")
        if not self.path:
            raise ValueError("paged_json requires the path option")
        unsupported = [
            (f.name, f.dataType.simpleString())
            for f in schema.fields
            if f.dataType.simpleString() not in _CASTS
        ]
        if unsupported:
            # fail at PLANNING with a clear message — silently str()ing
            # an int/timestamp column would surface as an opaque
            # executor-side Arrow conversion error instead
            raise ValueError(
                f"paged_json supports bigint/double/string columns only; "
                f"got {unsupported}"
            )
        self.tracking = options.get("tracking_column")
        self.since = options.get("since")
        # typed HWM comparison: a lexicographic compare on a NUMERIC
        # tracking column silently drops rows ('10' > '9' is False) —
        # the comparator follows the column's declared type
        self._since_typed = None
        if self.tracking is not None and self.since is not None:
            ttype = next(
                (
                    f.dataType.simpleString()
                    for f in schema.fields
                    if f.name == self.tracking
                ),
                "string",
            )
            cast = _CASTS[ttype]
            self._since_typed = cast(self.since)
            self._track_cast = cast

    def _pages(self):
        # Regular files only, sorted — subdirectories and dot/underscore
        # temporaries (producers stage hidden, then rename) are not
        # pages and must not become read tasks.
        return sorted(
            f
            for f in os.listdir(self.path)
            if not f.startswith((".", "_"))
            and os.path.isfile(os.path.join(self.path, f))
        )

    def _decoded_rows(self, path: str):
        fields = [f.name for f in self.schema.fields]
        casts = [_CASTS[f.dataType.simpleString()] for f in self.schema.fields]
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                rec = json.loads(line)
                # source-side incremental pushdown: rows at or below
                # the high-water mark never leave the reader
                if self._since_typed is not None:
                    tv = rec.get(self.tracking)
                    if tv is None or not self._track_cast(tv) > self._since_typed:
                        continue
                yield tuple(
                    cast(rec.get(name)) for name, cast in zip(fields, casts)
                )

    def read(self, partition):
        # one Arrow RecordBatch per page (guide §4.2): the JSON decode
        # and HWM filter are per-line Python either way, but the rows
        # cross the Python->JVM boundary as ONE columnar batch instead
        # of pickled tuples. _CASTS already coerced every value to its
        # column's Python type, so each column converts exactly; a
        # bigint outside the int64 range raises here rather than later
        # in Spark's converter.
        import pyarrow as pa

        rows = list(self._decoded_rows(partition.value))
        _ARROW = {"bigint": pa.int64(), "double": pa.float64(),
                  "string": pa.string()}
        cols = [
            pa.array([r[i] for r in rows],
                     type=_ARROW[f.dataType.simpleString()])
            for i, f in enumerate(self.schema.fields)
        ]
        yield pa.RecordBatch.from_arrays(
            cols, names=[f.name for f in self.schema.fields]
        )


class PagedJsonReader(_PagedJsonBase, DataSourceReader):
    def partitions(self):
        # one partition per page file: the sorted listing IS the plan
        return [InputPartition(os.path.join(self.path, p)) for p in self._pages()]


class PagedJsonStreamReader(_PagedJsonBase, DataSourceStreamReader):
    """The same paged directory as a CHANGE FEED: each micro-batch
    reads the pages that appeared since the last committed offset —
    the Structured-Streaming form of the reference's scheduled
    incremental extract (hourly cron re-polling Mongo/Postgres for
    rows past the HWM, all_schedules.py:40-52 + base_loader.py's
    fetchmany loop). Contract: pages are append-only and immutable,
    and page NAMES sort ascending in arrival order (the natural shape
    of API pagination or log shipping; `page-{seq:09d}.json`).

    The offset is `{"last_page": <name>}` — a name, not an index, so
    compacting/expiring already-committed pages never shifts the
    frontier. Planning is metadata-only on the driver (one listing per
    latestOffset call); row data moves executor-side, one task per new
    page — this is the full DataSourceStreamReader, not the
    Simple(driver-prefetch) variant, so the data path scales with the
    cluster, not the driver.

    Replay safety: pages are immutable, so a micro-batch whose write
    failed re-plans byte-identically from the checkpointed offsets —
    PROVIDED producer retention keeps every page in (start, end] alive
    until commit. partitions() enforces that precondition two ways: a
    missing END page raises directly, and because retention expires
    oldest-first, a missing LEADING page inside the range is detected
    by its shadow — no live page <= the start offset remaining (the
    older committed pages must have expired before anything inside the
    range could). The leading-edge check is deliberately conservative:
    a producer that prunes exactly up to the committed frontier and no
    further also trips it, which is why the retention contract here is
    "keep at least one page at-or-before the committed frontier alive
    until the NEXT batch commits" (one extra retention cycle). The one
    blind spot is the very first batch (start offset ""): there is no
    older page whose absence could witness the gap. latestOffset()
    clamps to the largest offset ever returned so expiry of committed
    pages can never regress the frontier."""

    # monotonic floor for latestOffset: the live listing can REGRESS
    # below the checkpointed frontier if the producer expires the last
    # committed page (or empties the directory). Offsets must never
    # move backwards, so remember the largest name ever returned.
    _offset_floor: str = ""

    def initialOffset(self) -> dict:
        return {"last_page": ""}

    def latestOffset(self) -> dict:
        pages = self._pages()
        tail = pages[-1] if pages else ""
        if tail > self._offset_floor:
            self._offset_floor = tail
        return {"last_page": self._offset_floor}

    def partitions(self, start: dict, end: dict):
        lo, hi = start.get("last_page", ""), end.get("last_page", "")
        if hi <= lo:
            return []  # empty batch (no new pages since the frontier)
        live = self._pages()
        planned = [p for p in live if lo < p <= hi]
        # Replay is byte-identical ONLY while every page in (start, end]
        # is still on disk. Age-ordered retention (the normal expiry
        # order for a paged feed) eats the EARLIEST pages first, so a
        # leading page lost inside (lo, hi] is invisible in `planned`
        # itself — but it cannot happen before every page <= lo is gone
        # too. lo having no live witness therefore means retention has
        # advanced at least to the committed frontier and possibly into
        # the uncommitted range: fail loudly (conservative by design —
        # see the class docstring's retention contract).
        if lo and live and not any(p <= lo for p in live):
            raise RuntimeError(
                f"paged_json retention violation: no live page at or "
                f"before the committed frontier {lo!r} remains — "
                "retention may have expired leading pages of the "
                f"uncommitted range (start={lo!r}, end={hi!r}); producer "
                "retention must keep one page <= the frontier alive "
                "until the next batch commits"
            )
        # If the producer's retention expired the END page `hi` itself,
        # silently dropping it would replay a DIFFERENT batch than the
        # one checkpointed — fail loudly as well.
        if hi and hi not in set(planned):
            raise RuntimeError(
                f"paged_json retention violation: end offset page {hi!r} "
                f"expired before the micro-batch (start={lo!r}) committed; "
                "producer retention must outlive checkpoint commit"
            )
        return [InputPartition(os.path.join(self.path, p)) for p in planned]

    def commit(self, end: dict) -> None:
        # offsets are tracked in the stream's checkpoint; committed
        # pages stay on disk (retention is the producer's policy)
        pass


def register(spark) -> None:
    """Idempotent registration of the connector on a session. Ships
    the package to executor workers first: Spark pickles the
    DataSource class by module reference, so a worker whose
    interpreter can't import `nomba_data_pipeline_spark` (driver cwd
    elsewhere, no PYTHONPATH) would otherwise fail at read planning."""
    from nomba_data_pipeline_spark.shipping import ship_package

    ship_package(spark)
    spark.dataSource.register(PagedJsonDataSource)
