"""Record the input digest of every workload for seeds 0..N-1.

    python3 perfbench/pin_digests.py [N]

A run whose seed is pinned in ``digests.json`` fails when its generated
inputs no longer hash to the recorded value, so a change to the
generator (or to a library it draws from) cannot silently change what
two commits are measured on. Re-pin only together with a change to the
benchmark itself.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.workloads import WORKLOADS  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 128
    with tempfile.TemporaryDirectory() as tmp:  # generate() writes the inputs
        out = {name: {str(s): cls(os.path.join(tmp, f"{name}-{s}"), s).generate()
                      for s in range(n)}
               for name, cls in WORKLOADS.items()}
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=0, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
