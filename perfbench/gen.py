"""Seeded input generators with ground truth for the linkage benchmark.

Both generators are pure functions of their arguments: the same seed gives
byte-identical pandas frames (see ``content_hash``). They live beside the
benchmark, not in the package, so that a change to the package cannot change
the benchmark's inputs.

- ``files_corpus``: a repo-file corpus ``(repo, path, commit, lang, content)``
  in the shape of the north-star job's input. A share of the B records are
  exact copies of A records under a mirror repo, another share are edited
  copies (a typo in the file name, a few replaced content tokens); the rest
  are unrelated. Every seed gives the same record shapes (records per
  language, directory depths, content lengths), so the candidate-pair count
  moves less with the seed. Truth = the (a, b) pairs of the copies.
- ``customer_sets``: customer-like record sets ``(id, name, seg, block)``
  with ``Customer#<9 digits>`` names. Each customer lands in A only, in B only
  or in both, in equal shares; a fixed share of the B names is corrupted by
  one edit. Truth = the customers present on both sides.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

LANGS = ["python", "java", "c", "js", "go", "rust", "ruby"]
# python dominates, so one language's probe blocks are much larger than the rest
LANG_WEIGHTS = [0.45, 0.15, 0.10, 0.10, 0.08, 0.07, 0.05]
_STEMS = (
    "loader parser index worker stream buffer config handler router model "
    "cache util client server schema token batch merge split filter reduce "
    "map join sort scan hash block probe queue task pool shard state"
).split()
# ~3k identifiers: unrelated files share few tokens, edited copies stay close
WORDS = np.array([f"{s}_{i}" for s in _STEMS for i in range(96)])

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def _typo(rng: np.random.Generator, s: str) -> str:
    """One or two interior edits: delete a character or swap two neighbours."""
    chars = list(s)
    for _ in range(int(rng.integers(1, 3))):
        if len(chars) < 3:
            break
        i = int(rng.integers(1, len(chars) - 1))
        if rng.random() < 0.5:
            del chars[i]
        else:
            chars[i], chars[i - 1] = chars[i - 1], chars[i]
    return "".join(chars)


def _sha1(text: str) -> str:
    return hashlib.sha1(text.encode()).hexdigest()


def files_corpus(seed: int, n_a: int, n_b: int, exact_frac: float = 0.15,
                 fuzzy_frac: float = 0.25
                 ) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    """Return ``(files_A, files_B, truth)``; ids are ``a`` / ``b`` from 1."""
    rng = np.random.default_rng(seed)

    def shape_order(n: int) -> list[tuple[str, int, int]]:
        """``n`` record shapes (language, directory depth, content length) in
        fixed shares and a seeded order, so that every seed gives language
        blocks of the same sizes and records of the same lengths."""
        counts = np.floor(np.array(LANG_WEIGHTS) * n).astype(int)
        counts[0] += n - counts.sum()
        langs = rng.permutation(np.repeat(LANGS, counts))
        depths = rng.permutation(np.arange(n) % 3 + 2)
        lengths = rng.permutation(np.linspace(30, 119, n).round().astype(int))
        return list(zip(langs.tolist(), depths.tolist(), lengths.tolist()))

    n_exact, n_fuzzy = int(n_a * exact_frac), int(n_a * fuzzy_frac)
    n_copy = n_exact + n_fuzzy
    if n_b < n_copy:
        raise ValueError("n_b is too small to hold the copied records")
    # record() pops from the end: the copied A records come first
    shapes = {"A": shape_order(n_a - n_copy) + shape_order(n_copy),
              "B": shape_order(n_b - n_copy)}

    def record(i: int, population: str) -> dict:
        lang, depth, length = shapes[population].pop()
        dirs = rng.choice(WORDS, size=depth).tolist()
        base = f"{rng.choice(WORDS)}_{i}.{lang[:2]}"
        return {
            "repo": f"org{int(rng.integers(0, 20))}/proj{int(rng.integers(0, 50))}",
            "path": "/".join(dirs + [base]),
            "commit": _sha1(f"{population}-{i}-{seed}"),
            "lang": lang,
            "content": " ".join(rng.choice(WORDS, size=length).tolist()),
        }

    a_rows = [record(i, "A") for i in range(n_a)]
    b_rows: list[dict] = []
    truth: list[tuple[int, int]] = []
    for j in range(n_copy):
        copy = dict(a_rows[j])
        copy["repo"] = f"mirror/{copy['repo']}"
        copy["commit"] = _sha1(f"B-copy-{j}-{seed}")
        if j >= n_exact:
            parts = copy["path"].split("/")
            parts[-1] = _typo(rng, parts[-1])
            copy["path"] = "/".join(parts)
            toks = copy["content"].split()
            for _ in range(max(1, len(toks) // 20)):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(WORDS))
            copy["content"] = " ".join(toks)
        b_rows.append(copy)
        truth.append((j + 1, len(b_rows)))
    while len(b_rows) < n_b:
        b_rows.append(record(len(b_rows) + 1_000_000, "B"))

    files_a = pd.DataFrame(a_rows)
    files_a.insert(0, "a", np.arange(1, n_a + 1, dtype=np.int64))
    files_b = pd.DataFrame(b_rows)
    files_b.insert(0, "b", np.arange(1, n_b + 1, dtype=np.int64))
    return files_a, files_b, pd.DataFrame(truth, columns=["a", "b"], dtype=np.int64)


def customer_sets(seed: int, n_customers: int, n_blocks: int,
                  corrupt_frac: float = 0.2
                  ) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    """Return ``(A, B, truth)`` with columns ``a|b, name, seg, block``.

    Customer keys are distinct random 9-digit numbers, so two different
    customers' names differ in several digits, as unrelated TPC-H names of a
    large table do. The composition is fixed and the seed picks who is where:
    a third of the customers is in A only, a third in B only and a third in
    both; blocks and segments have equal sizes; exactly ``corrupt_frac`` of
    the B-only and of the both-sides customers have their B name read
    ``Custmer#…``.
    """
    rng = np.random.default_rng(seed)
    keys = rng.choice(999_999_999, size=n_customers, replace=False) + 1

    def shares(values: int) -> np.ndarray:
        """0..values-1 in equal shares, in a seeded order."""
        return rng.permutation(np.arange(n_customers) % values)

    side = shares(3)                         # 0: A only, 1: B only, 2: both
    seg = np.array(SEGMENTS)[shares(len(SEGMENTS))]
    block = shares(n_blocks).astype(np.int64)
    names = np.array([f"Customer#{k:09d}" for k in keys], dtype=object)
    corrupt = np.zeros(n_customers, dtype=bool)
    for group in (1, 2):                     # the same share of each B group
        members = np.flatnonzero(side == group)
        corrupt[rng.choice(members, size=round(corrupt_frac * len(members)),
                           replace=False)] = True

    in_a, in_b = side != 1, side != 0
    A = pd.DataFrame({"a": keys[in_a], "name": names[in_a],
                      "seg": seg[in_a], "block": block[in_a]})
    b_names = np.where(corrupt, [n.replace("Customer", "Custmer") for n in names],
                       names)
    B = pd.DataFrame({"b": keys[in_b], "name": b_names[in_b],
                      "seg": seg[in_b], "block": block[in_b]})
    both = keys[side == 2]
    truth = pd.DataFrame({"a": both, "b": both})
    return A, B, truth


def content_hash(*frames: pd.DataFrame) -> str:
    """sha256 over the CSV text of the frames, in order."""
    h = hashlib.sha256()
    for df in frames:
        h.update(df.to_csv(index=False).encode())
    return h.hexdigest()
