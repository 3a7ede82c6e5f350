"""Output checks: the assignment contract and pair agreement with a reference.

An assignment is one row per input file with (file_id, repo, path, commit,
lang, content_sha, cluster_id). It passes when every input appears exactly
once, content_sha is the sha256 of the content, every cluster_id is the
minimum file_id of its members, and the share of the reference's
same-cluster pairs that the output also clusters together (pair recall)
is at least RECALL_FLOOR.
"""

from __future__ import annotations

import pandas as pd

KEY_COLS = ["repo", "path", "commit"]
RECALL_FLOOR = 0.99


def _same_cluster_pairs(sizes: pd.Series) -> int:
    return int((sizes * (sizes - 1) // 2).sum())


def pair_scores(reference: pd.Series, output: pd.Series) -> tuple[float, float]:
    """(recall, precision) of `output` clustering against `reference`.

    Both series label the same items (aligned by index). A pair counts as
    found when both clusterings put its two items together; counted from
    the contingency table, so no pair list is built.
    """
    both = pd.DataFrame({"r": reference, "o": output})
    together = _same_cluster_pairs(both.groupby(["r", "o"]).size())
    ref_pairs = _same_cluster_pairs(both.groupby("r").size())
    out_pairs = _same_cluster_pairs(both.groupby("o").size())
    recall = together / ref_pairs if ref_pairs else 1.0
    precision = together / out_pairs if out_pairs else 1.0
    return recall, precision


def check_assignment(out: pd.DataFrame, truth: pd.DataFrame,
                     reference: pd.Series | None) -> dict:
    """Check one output against the input's truth table.

    `truth` holds the key columns, row_idx and the expected sha; `reference`
    maps row_idx to the reference cluster (None: contract checks only).
    Returns {"errors": [...], "recall": r, "precision": p}.
    """
    errors = []
    merged = truth.merge(out, on=KEY_COLS, how="left", indicator=True)
    missing = int((merged._merge != "both").sum())
    if missing:
        errors.append(f"{missing} input rows missing from the output")
    if len(out) != len(truth) or len(merged) != len(truth):
        errors.append(f"{len(out)} output rows for {len(truth)} inputs")
    if out.file_id.duplicated().any():
        errors.append("duplicate file_id in the output")
    merged = merged[merged._merge == "both"]
    bad_sha = int((merged.content_sha != merged.sha).sum())
    if bad_sha:
        errors.append(f"{bad_sha} rows with content_sha != sha256(content)")
    min_id = out.groupby("cluster_id").file_id.min()
    bad_min = int((min_id.index.to_numpy() != min_id.to_numpy()).sum())
    if bad_min:
        errors.append(f"{bad_min} clusters whose id is not their minimum member")
    recall = precision = float("nan")
    if reference is not None and not errors:
        labels = merged.set_index("row_idx").cluster_id
        recall, precision = pair_scores(reference.loc[labels.index], labels)
        if recall < RECALL_FLOOR:
            errors.append(f"pair recall {recall:.4f} < {RECALL_FLOOR}")
    return {"errors": errors, "recall": recall, "precision": precision}
