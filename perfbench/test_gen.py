"""The generator is a pure function of (workload, seed).

    python3 -m pytest perfbench/test_gen.py -q
"""

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen import WORKLOADS, generate  # noqa: E402


def _hashes(workload, seed, out_dir):
    paths = generate(workload, seed, str(out_dir))
    out = {}
    for name, path in paths.items():
        with open(path, "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_same_bytes_other_seed_other_bytes(workload, tmp_path):
    a = _hashes(workload, 7, tmp_path / "a")
    b = _hashes(workload, 7, tmp_path / "b")
    c = _hashes(workload, 8, tmp_path / "c")
    assert a == b
    assert all(a[name] != c[name] for name in a)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_residue_totals_do_not_depend_on_the_seed(workload, tmp_path):
    from gen import read_fasta_records

    def totals(seed):
        p = generate(workload, seed, str(tmp_path / str(seed)))
        return tuple(sum(len(s) for _, s in read_fasta_records(p[f]))
                     for f in ("query.fa", "db.fa"))

    assert totals(1) == totals(2)
