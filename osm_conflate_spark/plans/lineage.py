"""Checkpoint-resumable stages + lineage records (SURVEY §8.6).

Each stage writes ``<out_dir>/<stage>/`` parquet plus
``<stage>.manifest.json`` (stage name, config hash, row count, wall
seconds).  A rerun with the same config hash reads the parquet back and
skips recomputation — 'resumable from checkpoint' per BASELINE.json.
Lineage rows (stage, group_id, n_in, n_out, wall_ms) accumulate in
memory and can be persisted as a parquet table.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import asdict, is_dataclass

from pyspark.sql import DataFrame, SparkSession


def config_hash(cfg) -> str:
    d = asdict(cfg) if is_dataclass(cfg) else dict(cfg)

    def stable(v):
        # callables hash by qualified name PLUS their compiled code, so
        # the resume cache stays valid across processes but editing a
        # hook body (same lambda name!) invalidates stale checkpoints
        if callable(v):
            name = getattr(v, "__qualname__", repr(v.__class__))
            code = getattr(v, "__code__", None)
            if code is None:  # builtins / partials / C callables
                return name
            consts = hashlib.sha256(
                repr(code.co_consts).encode()
            ).hexdigest()[:12]
            body = hashlib.sha256(code.co_code).hexdigest()[:12]
            return f"{name}:{body}:{consts}"
        if isinstance(v, (set, frozenset)):
            # set iteration (and so repr) order follows PYTHONHASHSEED;
            # sort the members' canonical JSON so every process agrees
            return sorted(
                json.dumps(m, default=stable, sort_keys=True) for m in v
            )
        return repr(v)

    payload = json.dumps(
        {k: stable(v) if callable(v) else v for k, v in sorted(d.items())},
        default=stable, sort_keys=True,
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def input_fingerprint(*dfs) -> str:
    """Fingerprint pipeline inputs by their backing file listing
    (``df.inputFiles()`` — metadata only, no scan).  Empty string when no
    inputs are file-backed (e.g. createDataFrame test frames)."""
    files: list[str] = []
    for df in dfs:
        try:
            files.extend(df.inputFiles())
        except Exception:  # noqa: BLE001 — frames with no file listing
            pass
    if not files:
        return ""
    return hashlib.sha256("\n".join(sorted(files)).encode()).hexdigest()[:16]


class StageRunner:
    """Runs named stages with optional parquet checkpointing + lineage.

    Resume safety: a stage checkpoint is reused only when BOTH the config
    hash AND the input fingerprint match — rerunning ``--resume`` against
    different input data invalidates the cache instead of silently
    serving stale results (round-1 advice).  Unfingerprintable inputs
    (no backing files) match only manifests that also recorded none.
    """

    def __init__(self, spark: SparkSession, out_dir: str | None = None,
                 cfg_hash: str = "", resume: bool = True):
        self.spark = spark
        self.out_dir = out_dir
        self.cfg_hash = cfg_hash
        self.resume = resume
        #: input fingerprint; the pipeline sets it per run
        self.input_sig = ""
        self.lineage: list[dict] = []

    def _manifest_path(self, stage: str) -> str:
        assert self.out_dir is not None
        return os.path.join(self.out_dir, f"{stage}.manifest.json")

    def _data_path(self, stage: str) -> str:
        assert self.out_dir is not None
        return os.path.join(self.out_dir, stage)

    def run(self, stage: str, build) -> DataFrame:
        """build: () -> DataFrame.  Returns the (possibly restored) stage
        output; when checkpointing, the output is materialized parquet,
        which also truncates the lineage of iterative plans."""
        t0 = time.monotonic()
        if self.out_dir:
            mp = self._manifest_path(stage)
            if self.resume and os.path.exists(mp):
                with open(mp) as f:
                    man = json.load(f)
                if (
                    man.get("cfg_hash") == self.cfg_hash
                    and man.get("input_sig", "") == self.input_sig
                ):
                    df = self.spark.read.parquet(self._data_path(stage))
                    import sys

                    print(
                        f"[resume] stage {stage!r} restored from checkpoint "
                        f"(rows={man['rows']}, input_sig="
                        f"{man.get('input_sig', '') or '<none>'})",
                        file=sys.stderr,
                    )
                    self.lineage.append(
                        dict(stage=stage, group_id=-1, n_in=-1,
                             n_out=man["rows"], wall_ms=0.0, resumed=True)
                    )
                    return df
            df = build()
            df.write.mode("overwrite").parquet(self._data_path(stage))
            df = self.spark.read.parquet(self._data_path(stage))
            rows = df.count()
            with open(mp, "w") as f:
                json.dump(
                    dict(stage=stage, cfg_hash=self.cfg_hash, rows=rows,
                         input_sig=self.input_sig),
                    f,
                )
        else:
            df = build()
            rows = -1
        self.lineage.append(
            dict(stage=stage, group_id=-1, n_in=-1, n_out=rows,
                 wall_ms=(time.monotonic() - t0) * 1000.0, resumed=False)
        )
        return df

    def lineage_df(self) -> DataFrame:
        return self.spark.createDataFrame(
            [
                (r["stage"], int(r["group_id"]), int(r["n_in"]), int(r["n_out"]),
                 float(r["wall_ms"]))
                for r in self.lineage
            ],
            "stage string, group_id long, n_in long, n_out long, wall_ms double",
        )
