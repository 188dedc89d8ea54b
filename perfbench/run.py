"""BLAST-path benchmark: seeded FASTA in, finished sink files out, the
alignment kernel running in every search.

    python3 perfbench/run.py --workload blastp_families --seed 1 \
        --seconds 15 --trace 0

Run it from the repository root; it imports ``mr_mpi_blast_spark`` from
there and exits with code 2, printing no result, when the package is
missing. perfbench/README.md describes the workloads and metrics.
"""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path[:0] = [HERE, ROOT]
    try:
        import mr_mpi_blast_spark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: cannot import the package from {ROOT}: {ex}",
              file=sys.stderr)
        return 2
    from harness import main as harness_main
    return harness_main(sys.argv[1:])


if __name__ == "__main__":
    raise SystemExit(main())
