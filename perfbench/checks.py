"""Output checks and the attempted/failed ledger of one benchmark run."""

from __future__ import annotations

import hashlib
import json
import os
import re
import traceback
from contextlib import contextmanager
from typing import Iterable

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def triple_digest(triples: Iterable[tuple[str, str, str]]) -> str:
    """sha256 over the distinct (subj, pred, obj) set, independent of the
    order and multiplicity the rows arrive in."""
    h = hashlib.sha256()
    for t in sorted(set(tuple(t) for t in triples)):
        h.update("\t".join(t).encode("utf-8") + b"\n")
    return h.hexdigest()


def micro_pr(per_pred_rows: Iterable[dict]) -> tuple[float, float]:
    """Micro precision/recall over ``plans.evaluate`` rows
    (pred, right, wrong, known, ...)."""
    right = wrong = known = 0
    for r in per_pred_rows:
        right += r["right"]
        wrong += r["wrong"]
        known += r["known"]
    precision = right / (right + wrong) if right + wrong else 0.0
    recall = right / known if known else 0.0
    return precision, recall


class Ledger:
    """Counts attempted and failed operations: the timed calls plus the
    output checks. Failures are kept with their reason for the run log."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    @contextmanager
    def op(self, name: str):
        """A timed call; an exception fails it and propagates."""
        self.attempted += 1
        try:
            yield
        except Exception:
            self.failed += 1
            self.errors.append(f"{name}: {traceback.format_exc(limit=3)}")
            raise

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{name}: {detail}")
        return ok


def source_hash(root: str) -> str:
    """sha256 over the program's and the benchmark's Python sources: the
    code a committed triple set depends on."""
    h = hashlib.sha256()
    for top in ("fact_extraction_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(root, top))):
            dirs[:] = sorted(x for x in dirs if not x.startswith("."))
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(d, name)
                    h.update(os.path.relpath(path, root).encode() + b"\0")
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def check_digest(ledger: Ledger, digest_dir: str, key: str, source: str,
                 digest: str) -> None:
    """Every run of this code on the same inputs must commit the same
    triple set, whichever workload or mention mode made it. ``key`` names
    the code and the inputs; the first run records its digest, later runs
    compare against it."""
    os.makedirs(digest_dir, exist_ok=True)
    path = os.path.join(digest_dir, f"{key}.json")
    if not os.path.exists(path):
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump({"digest": digest, "source": source}, f)
        os.replace(tmp, path)
        return
    with open(path) as f:
        first = json.load(f)
    ledger.check("digest equal across runs on these inputs",
                 first["digest"] == digest,
                 f"{source} gave {digest}, {first['source']} gave "
                 f"{first['digest']}")
