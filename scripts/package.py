#!/usr/bin/env python
"""Build dist/docling_pdf_spark.zip for `spark-submit --py-files`.

Cluster launch recipe (SURVEY.md §4.4):

    python scripts/package.py
    spark-submit --py-files dist/docling_pdf_spark.zip \
        jobs/extract.py --input ... --output ... --checkpoint ...
"""

from __future__ import annotations

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    pkg = os.path.join(REPO, "docling_pdf_spark")
    dist = os.path.join(REPO, "dist")
    os.makedirs(dist, exist_ok=True)
    out = os.path.join(dist, "docling_pdf_spark.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    print(out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
