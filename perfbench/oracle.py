"""Checks of the curation pipelines' outputs.

- DuckDB oracle: `tools/check.py` compares a pipeline's Spark output with
  its suite oracle SQL run by DuckDB on the same Parquet files. The program
  writes an `oracle_sql.json` naming only the pipelines whose oracle is
  affordable: q217 and q224 on the benchmark corpus every run, q204 on a
  small corpus in traced runs.
- q195: its oracle counts the exact all-pairs trigram-Jaccard matches, which
  is quadratic in DuckDB; the same count is taken here with Python sets.
- q204: every run checks that its doc ids are unique and come from the
  corpus.
"""
import os
import subprocess
import sys

import pandas as pd
import pyarrow.parquet as pq

CHECK = os.path.join("tools", "check.py")


def duckdb_check(corpus_dir, out_dir):
    """One note per pipeline named in `out_dir`/oracle_sql.json whose output
    disagrees with its oracle on the corpus in `corpus_dir`."""
    proc = subprocess.run([sys.executable, CHECK, corpus_dir, out_dir],
                          stdin=subprocess.DEVNULL, capture_output=True, text=True,
                          timeout=120)
    bad = [ln[len("FAIL "):] for ln in proc.stdout.splitlines() if ln.startswith("FAIL ")]
    if proc.returncode != 0 and not bad:
        bad.append(f"{CHECK} exited {proc.returncode}: {proc.stderr.strip()[-300:]}")
    return bad


def _trigrams(text):
    toks = text.split()
    if len(toks) >= 3:
        return frozenset(" ".join(toks[i:i + 3]) for i in range(len(toks) - 2))
    return frozenset([" ".join(toks)])


def true_pairs(corpus_dir, threshold=0.8):
    """Document pairs whose trigram-set Jaccard similarity is >= threshold."""
    texts = pq.read_table(f"{corpus_dir}/documents.parquet", columns=["text"]).column(0).to_pylist()
    sets = [_trigrams(t) for t in texts]
    n = 0
    for i, a in enumerate(sets):
        for b in sets[i + 1:]:
            inter = len(a & b)
            union = len(a) + len(b) - inter
            if (inter / union if union > 0 else 1.0) >= threshold:
                n += 1
    return n


def check(corpus_dir, out_dir, small_corpus_dir=None):
    """Notes for every disagreement; empty when all checks pass."""
    if not os.path.exists(os.path.join(out_dir, "oracle_sql.json")):
        return ["curation outputs missing"]
    bad = duckdb_check(corpus_dir, out_dir)

    n = true_pairs(corpus_dir)
    q195 = pd.read_parquet(os.path.join(out_dir, "q195_lsh_recall_eval"))
    row = q195.iloc[0].to_dict() if len(q195) == 1 else {}
    if not (row.get("n_true") == row.get("n_found") == row.get("n_hit") == n and
            (n == 0 or (row.get("precision") == 1.0 and row.get("recall") == 1.0))):
        bad.append(f"q195_lsh_recall_eval: {row} vs {n} true pairs")

    ids = set(pq.read_table(f"{corpus_dir}/documents.parquet", columns=["doc_id"])
              .column(0).to_pylist())
    q204 = pd.read_parquet(os.path.join(out_dir, "q204_curation_pipeline"))
    if len(q204) == 0 or not q204["doc_id"].is_unique or not set(q204["doc_id"]) <= ids:
        bad.append("q204_curation_pipeline: doc ids not unique or not from the corpus")

    if small_corpus_dir:
        bad += duckdb_check(small_corpus_dir, os.path.join(out_dir, "small"))
    return bad
