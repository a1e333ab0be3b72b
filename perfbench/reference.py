"""Independent pure-Python render of the benchmark templates.

This restates the reference CLI's per-record semantics directly from the
record fields, without the engine's template compiler, so it can check the
engine's output:

- ``ShortHostId``: last ``:`` segment of the partition key, with a leading
  ``task/`` or ``instance/`` removed.
- ``Timestamp``: Go's default ``time.Time`` text in UTC,
  ``2006-01-02 15:04:05.999999999 +0000 UTC`` (trailing zeros trimmed).
- ``.Log.<key>``: the payload parsed as JSON; a payload that is not a JSON
  object (invalid, non-object, empty or invalid UTF-8) makes the record a
  render error, which the watcher drops.

``line_hash`` is the order-independent digest both sides compute: the sum
of the first 12 hex digits of each line's MD5, as an exact integer.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
from datetime import datetime, timezone

# The benchmark templates: render_batch uses TEMPLATE; stream_tail adds the
# sequence number in front so each emitted line can be joined back to its
# record.
TEMPLATE = "{{.ShortHostId}} {{.Timestamp}} {{.Log.level}} {{.Log.latency_ms}}"
STREAM_TEMPLATE = "{{.SequenceNumber}} " + TEMPLATE

HASH_HEX_DIGITS = 12


def short_host_id(partition_key: str) -> str:
    last = partition_key.rsplit(":", 1)[-1]
    for prefix in ("task/", "instance/"):
        if last.startswith(prefix):
            return last[len(prefix):]
    return last


def go_time(us: int) -> str:
    dt = datetime.fromtimestamp(us // 1_000_000, tz=timezone.utc)
    frac = f"{us % 1_000_000:06d}".rstrip("0")
    return f"{dt:%Y-%m-%d %H:%M:%S}" + (f".{frac}" if frac else "") + " +0000 UTC"


class Renderer:
    """Renders records one at a time; caches the per-key and per-second
    parts, which repeat across records."""

    def __init__(self, with_seq: bool = False) -> None:
        self.with_seq = with_seq
        self._hosts: dict[str, str] = {}
        self._seconds: dict[int, str] = {}

    def _time(self, us: int) -> str:
        sec, frac_us = divmod(us, 1_000_000)
        head = self._seconds.get(sec)
        if head is None:
            head = go_time(sec * 1_000_000)[:19]
            self._seconds[sec] = head
        frac = f"{frac_us:06d}".rstrip("0")
        return head + (f".{frac}" if frac else "") + " +0000 UTC"

    def render(self, partition_key: str, arrival_us: int, data: bytes, seq: str) -> str | None:
        """The rendered line, or None for a render error."""
        try:
            log = json.loads(data.decode("utf-8"))
        except (UnicodeDecodeError, ValueError):
            return None
        if not isinstance(log, dict):
            return None
        host = self._hosts.get(partition_key)
        if host is None:
            host = self._hosts[partition_key] = short_host_id(partition_key)
        line = f"{host} {self._time(arrival_us)} {log['level']} {log['latency_ms']}"
        return f"{seq} {line}" if self.with_seq else line


def expected_lines(table, with_seq: bool = False) -> list[str | None]:
    """The expected line (None for a render error) of each record of a
    pyarrow table in the raw record schema, in row order. A payload whose
    first non-blank byte is not ``{`` cannot be a JSON object, so it is an
    error without being parsed."""
    r = Renderer(with_seq)
    data = table.column("data").to_pylist()
    objects = [i for i, d in enumerate(data) if d.lstrip(b" \t\r\n")[:1] == b"{"]
    sub = table.take(objects)
    keys = sub.column("partitionKey").to_pylist()
    arrival = sub.column("approximateArrivalTimestamp").cast("int64").to_pylist()
    seqs = sub.column("sequenceNumber").to_pylist()
    lines: list[str | None] = [None] * len(data)
    for j, i in enumerate(objects):
        lines[i] = r.render(keys[j], arrival[j], data[i], seqs[j])
    return lines


def line_digest(line: str) -> int:
    return int(hashlib.md5(line.encode("utf-8")).hexdigest()[:HASH_HEX_DIGITS], 16)


def table_summary(table, workers: int, scratch_dir: str) -> tuple[int, int]:
    """(count, hash) of the expected lines of ``table``'s records, rendered
    by ``workers`` child processes (this file run as a script, one Arrow
    file each, written under ``scratch_dir``). Every child has exited when
    this returns."""
    import pyarrow as pa

    step = -(-table.num_rows // workers)
    procs = []
    try:
        for k in range(workers):
            path = os.path.join(scratch_dir, f"reference-{k}.arrow")
            with pa.OSFile(path, "wb") as sink, pa.ipc.new_file(sink, table.schema) as w:
                w.write_table(table.slice(k * step, step))
            procs.append(subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), path],
                stdout=subprocess.PIPE, text=True,
            ))
        n = h = 0
        for proc in procs:
            out, _ = proc.communicate()
            if proc.returncode != 0:
                raise RuntimeError(f"reference worker exited {proc.returncode}")
            a, b = out.split()
            n, h = n + int(a), h + int(b)
        return n, h
    finally:
        for proc in procs:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def summary(lines) -> tuple[int, int]:
    """(count, order-independent hash) of an iterable of lines."""
    n = 0
    h = 0
    for line in lines:
        n += 1
        h += line_digest(line)
    return n, h


if __name__ == "__main__":
    # Worker of table_summary: prints "<count> <hash>" for one Arrow file.
    import pyarrow as pa

    with pa.memory_map(sys.argv[1]) as src:
        part = pa.ipc.open_file(src).read_all()
    print(*summary(line for line in expected_lines(part) if line is not None))
