"""Write pinned.json: content digests of each workload's pages at the default
seed, which run.py checks so that a generator change cannot silently change
a workload.

    python3 perfbench/pin.py
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import workloads  # noqa: E402


def main() -> None:
    out = {"default_seed": workloads.DEFAULT_SEED, "workloads": {}}
    for name, wl in workloads.WORKLOADS.items():
        pdf = workloads.generate_pdf(wl, workloads.DEFAULT_SEED, workers=4)
        out["workloads"][name] = {
            "pages": len(pdf),
            "pages_sha256": workloads.pages_digest(pdf),
            "sample_sha256": workloads.pages_digest(workloads.sample_pdf(wl)),
        }
    with open(workloads.PINNED_PATH, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
