"""Zip the library for spark-submit --py-files.

Packs the package's Python modules and its C sources: workers build the
compiled kernel recurrences from ``kernel/recurrences.c`` on first use
(outside the zip, in their temp directory)."""

from __future__ import annotations

import os
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "atr_adaptive_laguerre_spark"


def main() -> str:
    dist = os.path.join(ROOT, "dist")
    os.makedirs(dist, exist_ok=True)
    out = os.path.join(dist, f"{PKG}.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirs, files in os.walk(os.path.join(ROOT, PKG)):
            if "__pycache__" in dirpath:
                continue
            for f in files:
                if f.endswith((".py", ".c")):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, ROOT))
    print(out)
    return out


if __name__ == "__main__":
    main()
