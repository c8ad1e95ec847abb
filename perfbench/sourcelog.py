"""Attribute source files to micro-batches from a file-stream checkpoint.

Spark's file source records, per micro-batch, the files it planned into
``<checkpoint>/sources/0/<batch>``: a ``v1`` header line, then one JSON
entry per file. Every tenth log is ``<batch>.compact`` and relists all the
files of the earlier batches, so a file is attributed to the FIRST batch
that lists it (an entry's own ``batchId`` wins over the log it sits in).
"""

from __future__ import annotations

import json
import os
from urllib.parse import unquote, urlparse


def parse_log(text: str) -> list[dict]:
    lines = text.splitlines()
    if not lines or not lines[0].startswith("v"):
        raise ValueError("not a file-source log (missing version header)")
    return [json.loads(line) for line in lines[1:] if line.strip()]


def log_batch_id(name: str) -> int | None:
    """Batch id of a log file name ('7', '9.compact'); None for anything
    else (checksums, temp files)."""
    stem = name[: -len(".compact")] if name.endswith(".compact") else name
    return int(stem) if stem.isdigit() else None


def file_name(path: str) -> str:
    return os.path.basename(unquote(urlparse(path).path))


def attribute_files(log_dir: str) -> dict[str, int]:
    """{file base name: first batch id that lists it}."""
    logs = []
    for name in os.listdir(log_dir):
        batch = log_batch_id(name)
        if batch is not None:
            logs.append((batch, name))
    owner: dict[str, int] = {}
    for batch, name in sorted(logs):
        with open(os.path.join(log_dir, name)) as f:
            entries = parse_log(f.read())
        for entry in entries:
            fname = file_name(entry["path"])
            listed = min(batch, int(entry.get("batchId", batch)))
            owner[fname] = min(owner.get(fname, listed), listed)
    return owner
