"""Ingestion-side replay producer — reference ``read_stream.py`` parity.

The reference's ingestion script (``read_stream.py:8-24``) reads the
Meetup HTTP chunked stream line by line, ``json.loads``-validates each
record, and produces it to Kafka topic ``all_events`` on partition 0
with a ``json.dumps`` value serializer. This module is the replayable
counterpart for an environment with no live feed and no broker:

- :class:`FileEnvelopeProducer` writes the same
  ``{"value": <json string>, "timestamp": <ts>}`` envelope to a JSONL
  directory, one file per ``send_batch`` call — the file-stream
  surrogate's contract (one file ≈ one micro-batch, see
  ``pipeline.rsvp_file_stream``). Streaming tests drive their
  micro-batches through this instead of hand-rolled writers.
- :func:`iter_jsonl_records` is the decode-validate loop
  (``read_stream.py:19-23``) over a fixture file instead of an HTTP
  response.
"""

from __future__ import annotations

import json
from collections.abc import Iterable, Iterator
from pathlib import Path


def iter_jsonl_records(path: str | Path) -> Iterator[dict]:
    """Decode-validate loop over a JSONL fixture (``read_stream.py:19-23``):
    skip blank lines, ``json.loads`` each record."""
    with open(path, encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


class FileEnvelopeProducer:
    """Replay fixture records into the Kafka-envelope JSONL contract.

    One ``send_batch`` call produces one file; with
    ``maxFilesPerTrigger=1`` on the reader that is exactly one
    micro-batch, so tests control batch boundaries by calling
    ``send_batch`` between drains.
    """

    def __init__(self, out_dir: str | Path):
        self._dir = Path(out_dir)
        self._dir.mkdir(parents=True, exist_ok=True)
        self._seq = 0

    def send_batch(self, rows: Iterable[tuple[str | dict, str]]) -> Path:
        """rows: (value, timestamp) pairs; dict values are serialized
        like the reference's value_serializer (``read_stream.py:11``)."""
        path = self._dir / f"batch-{self._seq:05d}.json"
        lines = []
        for value, ts in rows:
            if not isinstance(value, str):
                value = json.dumps(value)
            lines.append(json.dumps({"value": value, "timestamp": ts}))
        path.write_text("\n".join(lines))
        self._seq += 1
        return path

    def replay_jsonl(
        self, fixture: str | Path, timestamp: str, batch_size: int = 100
    ) -> int:
        """Replay a whole JSONL fixture in ``batch_size`` chunks; returns
        the number of records produced."""
        n = 0
        batch: list[tuple[str, str]] = []
        for rec in iter_jsonl_records(fixture):
            batch.append((json.dumps(rec), timestamp))
            if len(batch) >= batch_size:
                self.send_batch(batch)
                n += len(batch)
                batch = []
        if batch:
            self.send_batch(batch)
            n += len(batch)
        return n

