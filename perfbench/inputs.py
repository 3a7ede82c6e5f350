"""Workload inputs and reference answers, generated from the seed and cached.

Every input is a pure function of (workload, size, seed): rows come from the
program's planted-cluster generator (`datagen.gen_pandas`, row for row the
same content as the distributed `gen_files`). The program only ever sees the
parquet files written here; row indices and planted truth stay on the
benchmark's side. Inputs and the reference answer are cached under
`.perfbench/inputs/` in the checkout, so a repeated seed skips both.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from check import KEY_COLS

INPUT_COLS = [*KEY_COLS, "lang", "content"]
N_PARTS = 4             # parquet files per input table
INCR_BATCHES = 2        # micro-batches of the traced incremental layer


@dataclass(frozen=True)
class Workload:
    name: str
    n_files: int
    n_clusters: int
    members: int
    config: dict = field(default_factory=dict)   # EngineConfig overrides


WORKLOADS = {
    # many small duplicate groups: the signature UDF is the largest layer,
    # pairs and scoring are light
    "code_typical": Workload("code_typical", 5000, 500, 5),
    # vendored copies: members exceed the band cap, so the star-overflow
    # path runs and pairs, scoring and HAC do most of the work. The cap is
    # scaled down so that forty components share the HAC stage; with a few
    # 250-member components under the default cap, which task the grouped
    # map hashes two of them to decided the run time, and it moved 13%
    # from seed to seed.
    "code_vendored": Workload("code_vendored", 3000, 40, 60, {"band_cap": 50}),
}

# the same shapes at a few hundred files, for the self-test
TOY = {
    "code_typical": Workload("code_typical", 300, 30, 5),
    "code_vendored": Workload("code_vendored", 300, 3, 60, {"band_cap": 50}),
}


def _write_parts(pdf: pd.DataFrame, path: str, parts: int = N_PARTS) -> None:
    os.makedirs(path)
    for i in range(parts):
        chunk = pdf.iloc[i::parts].reset_index(drop=True)
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False),
                       os.path.join(path, f"part-{i:05d}.parquet"))


class Inputs:
    """One workload's cached input tables, planted truth and reference."""

    def __init__(self, workload: Workload, seed: int, cache_root: str) -> None:
        self.workload = workload
        self.seed = seed
        self.dir = os.path.join(
            cache_root, f"{workload.name}-n{workload.n_files}"
                        f"-c{workload.n_clusters}x{workload.members}-s{seed}")
        self.files = os.path.join(self.dir, "files")
        self._truth = os.path.join(self.dir, "truth.parquet")
        if not os.path.exists(os.path.join(self.dir, "_READY")):
            self._generate()
        self.truth = pd.read_parquet(self._truth)

    def _generate(self) -> None:
        from deduplipy_spark.sources.datagen import gen_pandas

        w = self.workload
        pdf = gen_pandas(w.n_files, w.n_clusters, members=w.members,
                         seed=self.seed)
        tmp = self.dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        _write_parts(pdf[INPUT_COLS], os.path.join(tmp, "files"))
        # incremental layer: the index is seeded with row_idx % 16 < 8, then
        # the rest arrives in micro-batches, so planted clusters (consecutive
        # row indices) span the seed and several batches
        slot = pdf.row_idx % 16
        _write_parts(pdf.loc[slot < 8, INPUT_COLS], os.path.join(tmp, "incr", "seed"))
        per = 8 // INCR_BATCHES
        for b in range(INCR_BATCHES):
            lo = 8 + b * per
            part = pdf.loc[(slot >= lo) & (slot < lo + per), INPUT_COLS]
            _write_parts(part, os.path.join(tmp, "incr", f"batch{b}"))
        truth = pdf[[*KEY_COLS, "row_idx", "truth_cluster"]].copy()
        truth["sha"] = [hashlib.sha256(c.encode()).hexdigest()
                        for c in pdf.content]
        truth.to_parquet(os.path.join(tmp, "truth.parquet"), index=False)
        with open(os.path.join(tmp, "_READY"), "w"):
            pass
        shutil.rmtree(self.dir, ignore_errors=True)
        os.rename(tmp, self.dir)

    def incremental_dirs(self) -> tuple[str, list[str]]:
        base = os.path.join(self.dir, "incr")
        return (os.path.join(base, "seed"),
                [os.path.join(base, f"batch{b}") for b in range(INCR_BATCHES)])

    def reference(self, file_ids: pd.DataFrame, cfg) -> pd.Series:
        """Reference cluster per row_idx from the single-node replica.

        `file_ids` maps the key columns to the engine's file ids (taken from
        a program output): the replica breaks HAC ties by node order, so it
        must label nodes exactly as the engine does. Cached beside the input,
        keyed by the config hash, together with the ids it was computed for;
        a later run whose ids differ gets a fresh reference.
        """
        path = os.path.join(self.dir, f"reference-{cfg.config_hash()}.parquet")
        ids = self.truth.merge(file_ids, on=KEY_COLS)[["row_idx", "file_id"]]
        if os.path.exists(path):
            cached = pd.read_parquet(path)
            if cached[["row_idx", "file_id"]].sort_values("row_idx").reset_index(
                    drop=True).equals(ids.sort_values("row_idx").reset_index(drop=True)):
                return cached.set_index("row_idx").ref_cluster
        from deduplipy_spark.replica import replica_clusters

        content = pq.read_table(self.files, columns=[*KEY_COLS, "content"]).to_pandas()
        rows = self.truth[[*KEY_COLS, "row_idx"]].merge(content, on=KEY_COLS)
        id_of_idx = dict(zip(ids.row_idx, ids.file_id))
        clusters = replica_clusters(rows[["row_idx", "content"]], cfg, id_of_idx)
        ref = ids.assign(ref_cluster=ids.file_id.map(clusters))
        tmp = path + ".tmp"
        ref.to_parquet(tmp, index=False)
        os.replace(tmp, path)
        return ref.set_index("row_idx").ref_cluster
