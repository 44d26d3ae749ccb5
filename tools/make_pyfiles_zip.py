"""Package koncorde_spark/ into a --py-files zip for spark-submit."""

from __future__ import annotations

import os
import sys
import zipfile

# the checkout this script belongs to
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def make_zip(out_path: str = "/tmp/koncorde_spark.zip", repo: str = REPO) -> str:
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(repo, "koncorde_spark")
        for dirpath, _dirs, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, repo))
    return out_path


if __name__ == "__main__":
    print(make_zip(*(sys.argv[1:] or [])))
