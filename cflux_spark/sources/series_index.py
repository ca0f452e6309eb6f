"""Driver-side series index over one store's registry.

cFlux warms its ``labels`` index from ``SELECT DISTINCT fingerprint,
labels FROM time_series`` at start and keeps it in process
(cflux.js:126-130,199-229, SURVEY §1.4); InfluxDB answers ``SHOW`` from
its in-memory series index the same way. ``SeriesIndex`` keeps the
latest-wins rows of ``<root>/<db>/time_series`` as a ``pyarrow.Table``
so the SHOW family answers with no Spark job
(``operators/metadata.ArrowRegistry``).

Freshness comes from the file listing, the way Structured Streaming's
file source remembers which files it has read: each ``refresh`` lists
the registry's data files as ``(name, size, mtime_ns)``. Files that were
only added (``/write``, streaming appends) are read and appended; a file
that disappeared or changed (a ``DROP SERIES`` / ``DROP MEASUREMENT``
registry rewrite) rebuilds the table. So writes made through any
``LPStore``, through streaming, or by another engine on the same root
all show up. A file that fails to read raises; it never reads as empty.

Above ``SERIES_INDEX_MAX_ROWS`` registry rows (counted from the parquet
footers) the index keeps nothing and callers answer through Spark.
"""

from __future__ import annotations

import os
import threading

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: Registry rows above which the index keeps no table and the SHOW
#: family answers through Spark. The table costs about 94 B per series
#: (Telegraf tag sets), so the cap is about 94 MB of driver memory.
SERIES_INDEX_MAX_ROWS = 1_000_000

#: ``refresh()``'s answer when the registry is above the cap.
ABOVE_CAP = "above-cap"

_SCHEMA = pa.schema(
    [
        ("fingerprint", pa.int64()),
        ("measurement", pa.string()),
        ("name", pa.string()),
        ("tags", pa.map_(pa.string(), pa.string())),
        ("date", pa.date32()),
    ]
)


def registry_files(path: str) -> dict[str, tuple[int, int]] | None:
    """The registry's data files as ``name → (size, mtime_ns)``, skipping
    ``_*`` and ``.*`` entries as Spark's reader does; None when the
    directory is absent."""
    try:
        entries = os.scandir(path)
    except (FileNotFoundError, NotADirectoryError):
        return None
    with entries:
        out = {}
        for e in entries:
            if e.name.startswith(("_", ".")) or not e.is_file():
                continue
            st = e.stat()
            out[e.name] = (st.st_size, st.st_mtime_ns)
        return out


def _latest_wins(t: pa.Table) -> pa.Table:
    """One row per fingerprint, the latest ``date`` winning
    (``ingest.dedup_registry``'s ReplacingMergeTree FINAL semantics)."""
    if pc.count_distinct(t["fingerprint"], mode="all").as_py() == t.num_rows:
        return t
    t = t.sort_by([("fingerprint", "ascending"), ("date", "descending")])
    fp = t["fingerprint"].combine_chunks()
    first = pc.not_equal(fp[1:], fp[:-1]).fill_null(True)
    return t.filter(pa.concat_arrays([pa.array([True]), first]))


class SeriesIndex:
    """The in-process registry table of one store, refreshed from the
    file listing before each use. Thread-safe."""

    def __init__(self, path: str):
        self.path = path
        self._lock = threading.Lock()
        self._files: dict[str, tuple[int, int]] = {}
        self._rows: dict[str, int] = {}  # footer row count per listed file
        self._table: pa.Table | None = None

    def refresh(self) -> pa.Table | str | None:
        """The registry's latest-wins rows (fingerprint, measurement,
        name, tags, date); None when the registry has no data file;
        ``ABOVE_CAP`` when it holds more than ``SERIES_INDEX_MAX_ROWS``
        rows."""
        with self._lock:
            # list under the lock: a listing older than the last commit
            # would read as vanished files and rebuild a stale table
            listed = registry_files(self.path)
            if any(listed is None or listed.get(n) != st for n, st in self._files.items()):
                self._files, self._rows, self._table = {}, {}, None
            if not listed:
                return None
            added = sorted(n for n in listed if n not in self._files)
            rows = dict(self._rows)
            for n in added:
                rows[n] = pq.read_metadata(self._file(n)).num_rows
            table = self._table
            if sum(rows.values()) > SERIES_INDEX_MAX_ROWS:
                table = ABOVE_CAP
            elif table is None or added:
                parts = [table] if table is not None else []
                new = added if parts else sorted(listed)
                parts += [self._read(n) for n in new]
                table = _latest_wins(pa.concat_tables(parts)).combine_chunks()
            # commit only once every new file has been read: a failed
            # read leaves the index as it was, so the next refresh
            # retries instead of skipping the file
            self._files, self._rows = listed, rows
            self._table = None if table is ABOVE_CAP else table
            return table

    def _file(self, name: str) -> str:
        return os.path.join(self.path, name)

    def _read(self, name: str) -> pa.Table:
        with pq.ParquetFile(self._file(name)) as f:
            return f.read(columns=_SCHEMA.names).cast(_SCHEMA)
