"""Stage snapshot store — parquet tables + JSON commit manifests.

Reference mapping: feature cache (run_e2e_span.py:674-712, torch.save keyed
by mode+model) and training checkpoints (:271-287).  Our analogue: every
pipeline stage writes its output as a table whose commit manifest records a
fingerprint of (stage name, config, upstream fingerprints).  Re-running the
pipeline skips any stage whose committed fingerprint matches — 'resumes
from the last committed snapshot' (BASELINE.json north_star).

On a production cluster these are Iceberg tables (atomic snapshot commits
for free); here the commit point is an atomic rename of `_manifest.json`
written only after the parquet write finishes — same crash-consistency
contract: a killed job leaves either no manifest (stage re-runs) or a
complete manifest over complete data.
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession


def fingerprint(*parts: Any) -> str:
    """Stable fingerprint of stage config + upstream fingerprints."""
    blob = json.dumps(parts, sort_keys=True, default=str).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self._dir(stage), "_manifest.json")

    def committed(self, stage: str, fp: str) -> bool:
        try:
            with open(self._manifest_path(stage)) as f:
                return json.load(f)["fingerprint"] == fp
        except (OSError, KeyError, json.JSONDecodeError):
            return False

    def write(self, df: DataFrame, stage: str, fp: str) -> None:
        """Materialize a stage output and commit it atomically.

        The old manifest is removed BEFORE the data overwrite starts: a
        crash mid-overwrite must not leave a valid-looking manifest (old
        fingerprint) pointing at partially rewritten data — that would
        let a later resume under the old config silently read a corrupt
        snapshot.  Crash windows: before unlink → old snapshot intact;
        during write → no manifest, stage re-runs; after manifest rename
        → new snapshot committed."""
        try:
            os.unlink(self._manifest_path(stage))
        except FileNotFoundError:
            pass
        df.write.mode("overwrite").parquet(os.path.join(self._dir(stage), "data"))
        manifest = {
            "stage": stage,
            "fingerprint": fp,
            "committed_at": time.time(),
            "format": "parquet",
        }
        os.makedirs(self._dir(stage), exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self._dir(stage), suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path(stage))  # the atomic commit

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        return spark.read.parquet(os.path.join(self._dir(stage), "data"))

    def get_or_compute(
        self,
        spark: SparkSession,
        stage: str,
        fp: str,
        compute,
    ) -> DataFrame:
        """The resume primitive: reuse the committed snapshot when the
        fingerprint matches, else compute + commit."""
        if self.committed(stage, fp):
            return self.read(spark, stage)
        self.write(compute(), stage, fp)
        return self.read(spark, stage)
