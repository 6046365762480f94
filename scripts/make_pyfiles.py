#!/usr/bin/env python
"""Package the engine for ``spark-submit --py-files`` deployment
(BASELINE.json north_rule): zips the ``s2spark`` package into
``dist/s2spark.zip`` so executors can import it. Run as a script, it
prints the zip's path; ``main()`` itself prints nothing, since
``__spark_entry__`` calls it inside a query whose caller may own
stdout."""

import os
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> str:
    dist = os.path.join(ROOT, "dist")
    os.makedirs(dist, exist_ok=True)
    out = os.path.join(dist, "s2spark.zip")
    pkg = os.path.join(ROOT, "s2spark")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(dirpath, fn)
                z.write(full, os.path.relpath(full, ROOT))
    return out


if __name__ == "__main__":
    print(main())
