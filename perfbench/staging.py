"""Keyed input staging.

Staged inputs live under ``<work>/inputs/<key>/<name>`` where the key is
(workload, seed, size, generator digest).  Every set-up pass generates the
dataset afresh into a scratch directory and takes its row count and an
order-insensitive content digest; the first pass of a key commits that copy
(atomic rename) with a manifest, later passes and later runs compare their
fresh digest with the manifest, and a reused copy is re-read and re-digested
before it is trusted.  A mismatch is an error, never a silent regenerate.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class StagingError(RuntimeError):
    pass


def source_digest(*rel_paths: str) -> str:
    """sha256 over the named source files of the repository (generator code)."""
    h = hashlib.sha256()
    for rel in rel_paths:
        path = os.path.join(REPO, rel)
        files = (
            sorted(
                os.path.join(d, f)
                for d, _, fs in os.walk(path)
                for f in fs
                if f.endswith(".py")
            )
            if os.path.isdir(path)
            else [path]
        )
        for fp in files:
            h.update(os.path.relpath(fp, REPO).encode())
            with open(fp, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def dataset_digest(df: DataFrame) -> tuple[int, str]:
    """(rows, digest): sum of per-row xxhash64 over all columns, so the digest
    is independent of file and row order but sees any changed, dropped or
    duplicated row."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["n"]), str(row["h"])


class Stager:
    """Staged datasets of one key; see the module docstring."""

    def __init__(self, spark, work_dir: str, key: str):
        self.spark = spark
        self.key_dir = os.path.join(work_dir, "inputs", key)
        os.makedirs(self.key_dir, exist_ok=True)
        for leftover in os.listdir(self.key_dir):  # scratch copies of a killed run
            if leftover.startswith("staging-"):
                shutil.rmtree(os.path.join(self.key_dir, leftover), ignore_errors=True)
        self.reverified: set[str] = set()

    def path(self, name: str) -> str:
        return os.path.join(self.key_dir, name)

    def _manifest(self, name: str) -> dict | None:
        mf = os.path.join(self.path(name), "_perfbench_manifest.json")
        if not os.path.exists(mf):
            return None
        with open(mf) as f:
            return json.load(f)

    def stage(self, name: str, build) -> dict:
        """One set-up pass for dataset ``name``: ``build()`` returns the
        DataFrame to stage as parquet.  Returns the manifest {rows, digest}."""
        tmp = os.path.join(self.key_dir, f"staging-{name}-{uuid.uuid4().hex[:8]}")
        build().write.parquet(tmp)
        rows, digest = dataset_digest(self.spark.read.parquet(tmp))
        fresh = {"rows": rows, "digest": digest}
        final = self.path(name)
        committed = self._manifest(name)
        if committed is None:
            shutil.rmtree(final, ignore_errors=True)  # uncommitted leftover
            with open(os.path.join(tmp, "_perfbench_manifest.json"), "w") as f:
                json.dump(fresh, f)
            os.rename(tmp, final)
            self.reverified.add(name)
            return fresh
        shutil.rmtree(tmp, ignore_errors=True)
        if fresh != committed:
            raise StagingError(f"{name}: regenerated input {fresh} != staged {committed}")
        if name not in self.reverified:
            rows, digest = dataset_digest(self.spark.read.parquet(final))
            if {"rows": rows, "digest": digest} != committed:
                raise StagingError(f"{name}: staged copy no longer matches its manifest")
            self.reverified.add(name)
        return committed
