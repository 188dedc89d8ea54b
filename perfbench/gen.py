"""Seeded FASTA inputs for the BLAST-path benchmark.

``generate(workload, seed, out_dir)`` writes three files:

- ``query.fa``: the query FASTA the program searches;
- ``db.fa``: the database FASTA; each defline names its volume as
  ``vol=<name>``;
- ``planted.tsv``: the (query, homolog) pairs the generator planted.
  Only the benchmark reads it; the program sees the two FASTA files.

The same (workload, seed) gives byte-identical files. Sequence lengths
come from a fixed list that the seed only permutes, so every seed
searches the same number of query and database residues.
"""

from __future__ import annotations

import os

import numpy as np

AA = np.frombuffer(b"ACDEFGHIKLMNPQRSTVWY", dtype=np.uint8)
NT = np.frombuffer(b"ACGT", dtype=np.uint8)
_RC = bytes.maketrans(b"ACGT", b"TGCA")

# random stream per workload; fixed, so a workload's inputs for a seed
# never change when workloads are added or removed
_STREAM = {"blastp_families": 0, "fresh_db_sparse": 2}
WORKLOADS = tuple(_STREAM)


def _rng(workload: str, seed: int) -> np.random.Generator:
    # SeedSequence takes non-negative words; the mask keeps every
    # integer seed usable and leaves non-negative ones unchanged
    return np.random.default_rng([_STREAM[workload], seed & (2**64 - 1)])


def _lengths(rng, n: int, lo: int, hi: int) -> np.ndarray:
    """n lengths spread evenly over [lo, hi], in seeded order."""
    return rng.permutation(np.linspace(lo, hi, n).round().astype(int))


def _random(rng, alphabet: np.ndarray, n: int) -> np.ndarray:
    return alphabet[rng.integers(0, len(alphabet), n)]


def _mutate(rng, seq: np.ndarray, rate: float,
            alphabet: np.ndarray) -> np.ndarray:
    """Point substitutions at ``rate``; a substituted residue always
    changes (its replacement is drawn from the other letters)."""
    out = seq.copy()
    hit = np.flatnonzero(rng.random(len(seq)) < rate)
    idx = np.searchsorted(alphabet, out[hit])
    shift = rng.integers(1, len(alphabet), len(hit))
    out[hit] = alphabet[(idx + shift) % len(alphabet)]
    return out


def _s(codes: np.ndarray) -> str:
    return codes.tobytes().decode("ascii")


def _blastp_families(rng):
    """Protein families of 6 database members each, spread over 4
    volumes, and one query per family; every copy carries 25% point
    substitutions from the family ancestor. Planted pairs: each query
    with every member of its family."""
    n_fam, members = 448, 6
    anc_len = _lengths(rng, n_fam, 240, 420)
    queries, subjects, planted = [], [], []
    sid = 0
    for f in range(n_fam):
        anc = _random(rng, AA, anc_len[f])
        for j in range(members):
            sid += 1
            subjects.append((f"p{sid:06d} fam={f} vol=v{(f + j) % 4}",
                             _s(_mutate(rng, anc, 0.25, AA))))
            planted.append((f"q{f:05d}", f"p{sid:06d}"))
        queries.append((f"q{f:05d} fam={f}", _s(_mutate(rng, anc, 0.25, AA))))
    order = rng.permutation(len(queries))
    return [queries[i] for i in order], subjects, planted


def _fresh_db_sparse(rng):
    """16 topically disjoint DNA volumes: every volume's subjects are
    mutated copies (3% substitutions) of that topic's own ancestors,
    so volumes share no long words. The small query batch draws from 6
    of the 16 topics (2% substitutions from one subject; every other
    query reverse-complemented, so minus-strand hits are checked too),
    so the seed filter can drop most (block, volume) work items.
    Planted pairs: each query with its source subject."""
    n_vol, anc_per_vol, copies, n_q = 16, 3, 6, 24
    anc_len = _lengths(rng, n_vol * anc_per_vol, 260, 420)
    subjects, by_topic = [], []
    sid = 0
    for v in range(n_vol):
        mine = []
        for a in range(anc_per_vol):
            anc = _random(rng, NT, anc_len[v * anc_per_vol + a])
            for _ in range(copies):
                sid += 1
                seq = _mutate(rng, anc, 0.03, NT)
                subjects.append((f"t{sid:06d} topic={v} vol=t{v:02d}",
                                 _s(seq)))
                mine.append((f"t{sid:06d}", seq))
        by_topic.append(mine)
    topics = rng.choice(n_vol, 6, replace=False)
    qlen = _lengths(rng, n_q, 160, 240)
    queries, planted = [], []
    for i in range(n_q):
        pool = by_topic[int(topics[i % len(topics)])]
        name, seq = pool[int(rng.integers(0, len(pool)))]
        st = int(rng.integers(0, len(seq) - qlen[i] + 1))
        q = _s(_mutate(rng, seq[st:st + qlen[i]], 0.02, NT))
        if i % 2:
            q = q.encode().translate(_RC)[::-1].decode()
        queries.append((f"f{i:05d} sparse", q))
        planted.append((f"f{i:05d}", name))
    order = rng.permutation(len(queries))
    return [queries[i] for i in order], subjects, planted


_BUILDERS = {"blastp_families": _blastp_families,
             "fresh_db_sparse": _fresh_db_sparse}


def _write_fasta(path: str, records) -> None:
    with open(path, "w") as fh:
        for defline, seq in records:
            fh.write(f">{defline}\n")
            for i in range(0, len(seq), 60):
                fh.write(seq[i:i + 60] + "\n")


def generate(workload: str, seed: int, out_dir: str) -> dict[str, str]:
    """Write the workload's inputs for ``seed`` under ``out_dir``;
    returns the three file paths."""
    queries, subjects, planted = _BUILDERS[workload](_rng(workload, seed))
    rank = {d.split(" ")[0]: i for i, (d, _) in enumerate(queries)}
    planted = sorted(planted, key=lambda p: rank[p[0]])
    os.makedirs(out_dir, exist_ok=True)
    paths = {name: os.path.join(out_dir, name)
             for name in ("query.fa", "db.fa", "planted.tsv")}
    _write_fasta(paths["query.fa"], queries)
    _write_fasta(paths["db.fa"], subjects)
    with open(paths["planted.tsv"], "w") as fh:
        for q, s in planted:
            fh.write(f"{q}\t{s}\n")
    return paths


def read_fasta_records(path: str) -> list[tuple[str, str]]:
    """(defline, SEQ) in file order, parsed the way the program's FASTA
    source does (whitespace dropped, upper-cased)."""
    out, head, body = [], None, []
    with open(path) as fh:
        for line in fh:
            if line.startswith(">"):
                if head is not None:
                    out.append((head, "".join(body).upper()))
                head, body = line[1:].strip(), []
            else:
                body.append(line.strip())
    if head is not None:
        out.append((head, "".join(body).upper()))
    return out
