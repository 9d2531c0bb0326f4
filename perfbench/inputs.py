"""Seeded workload inputs, each a repo-file corpus table.

Every workload reaches the engine the way the north-rule table would: a
parquet table ``(repo, path, commit, lang, content, content_sha)`` whose
import lines define a repo -> repo dependency graph. The generators keep
the intended edge list (``Corpus.expected_edges``), so the edges the
engine extracts can be checked exactly.

* ``corpus_pipeline`` uses the engine's own Zipf+hub corpus generator.
* ``dense_wcoj`` draws a graph with numpy and writes one import line
  per edge, ``IMPORTS_PER_FILE`` imports a file, with the same import
  syntax as the engine's generator.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from adopt_spark.corpus import Corpus, _import_line, generate_corpus

IMPORTS_PER_FILE = 16

_EXT = {"python": "py", "java": "java", "go": "go", "js": "js"}
_LANGS = tuple(_EXT)


def repo_name(i: int) -> str:
    return f"org{i // 4}/lib{i}"


def corpus_from_graph(src: np.ndarray, dst: np.ndarray, seed: int) -> Corpus:
    """Write a directed, loop-free, distinct edge list as a corpus table.

    Each source repo's out-edges are split into files of at most
    ``IMPORTS_PER_FILE`` imports; each file gets a seeded language.
    """
    rng = np.random.default_rng(seed)
    e = pd.DataFrame({"src": src, "dst": dst}).sort_values(["src", "dst"])
    e["file"] = e.groupby("src").cumcount() // IMPORTS_PER_FILE
    rows = []
    for (s, f), grp in e.groupby(["src", "file"], sort=True):
        repo = repo_name(int(s))
        lang = _LANGS[int(rng.integers(0, len(_LANGS)))]
        lines = [_import_line(lang, repo_name(int(t))) for t in grp["dst"]]
        rows.append({
            "repo": repo,
            "path": f"src/m{s}_{f}.{_EXT[lang]}",
            "commit": hashlib.sha1(f"{seed}:{s}:{f}".encode()).hexdigest(),
            "lang": lang,
            "content": "\n".join(lines) + f"\n// generated file {f}\n",
        })
    files = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    expected = pd.DataFrame({
        "src_repo": [repo_name(int(s)) for s in e["src"]],
        "dst_repo": [repo_name(int(t)) for t in e["dst"]],
    }).sort_values(["src_repo", "dst_repo"], ignore_index=True)
    return Corpus(files=files, expected_edges=expected)


def sparse_corpus(seed: int) -> Corpus:
    """Zipf + hub corpus from the engine's generator: W/E well below 8."""
    return generate_corpus(n_repos=1500, n_files=15_000, seed=seed,
                           n_hubs=5, hub_prob=0.2)


def dense_graph(seed: int, n: int = 600, directed_edges: int = 36_000
                ) -> tuple[np.ndarray, np.ndarray]:
    """Chung-Lu graph with mildly skewed weights: few vertices, many
    edges, so W/E is far above 8 (the shape of the lineitem-derived
    graph of ``edges.derived_edges``).

    The weights are the quantiles of a Pareto(3) law, so the seed picks
    which vertex gets which weight and which edges are drawn, not the
    shape of the degree sequence: the work per pass then barely varies
    from seed to seed."""
    rng = np.random.default_rng(seed)
    w = rng.permutation((1.0 - (np.arange(n) + 0.5) / n) ** (-1.0 / 3.0))
    p = np.outer(w, w)
    np.fill_diagonal(p, 0.0)
    p *= directed_edges / p.sum()
    mask = rng.random((n, n)) < np.minimum(p, 1.0)
    np.fill_diagonal(mask, False)
    src, dst = np.nonzero(mask)
    return src.astype(np.int64), dst.astype(np.int64)


def make_corpus(workload: str, seed: int) -> Corpus:
    if workload == "corpus_pipeline":
        return sparse_corpus(seed)
    if workload == "dense_wcoj":
        return corpus_from_graph(*dense_graph(seed), seed=seed)
    raise ValueError(f"unknown workload: {workload}")
