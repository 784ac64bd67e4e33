"""Adopt one run artifact as a baseline.

    python3 perfbench/adopt.py perfbench/results/<artifact>.json

Copies the artifact into ``perfbench/baselines/`` under the same name.
Runs never write there, and adopting refuses to replace a baseline that
already exists, so no earlier record is lost.
"""

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    src = argv[0]
    with open(src) as f:
        art = json.load(f)
    if not art.get("correct"):
        print(f"{src}: the run failed its output checks", file=sys.stderr)
        return 1
    dst_dir = os.path.join(HERE, "baselines")
    os.makedirs(dst_dir, exist_ok=True)
    dst = os.path.join(dst_dir, os.path.basename(src))
    try:
        with open(src, "rb") as f, open(dst, "xb") as out:
            shutil.copyfileobj(f, out)
    except FileExistsError:
        print(f"{dst} already exists; not replaced", file=sys.stderr)
        return 1
    print(dst)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
