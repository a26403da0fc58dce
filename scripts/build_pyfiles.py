"""Package pii_spark for spark-submit --py-files.

Builds dist/pii_spark.zip: the pure-Python package (word lists + the
langid/perplexity models build deterministically at import) plus the
trained token head (pii_spark/detect/token_head.npz), which serving
loads from inside the package — so the zip serves exactly the model a
checkout serves. Cluster usage:

    python scripts/build_pyfiles.py
    spark-submit --py-files dist/pii_spark.zip \\
        jobs/run_quality.py --input s3://corpus --output s3://out

dist/ is a build output and is not tracked; rebuild the zip after any
change under pii_spark/. Every UDF closure references module-level
functions only (no driver-captured state).
"""

from __future__ import annotations

import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def build(out: Path | None = None) -> Path:
    out = out or ROOT / "dist" / "pii_spark.zip"
    out.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for p in sorted((ROOT / "pii_spark").rglob("*.py")):
            z.write(p, p.relative_to(ROOT))
        # the head is already a compressed npz: store it as is, which
        # also keeps the member seekable for np.load inside the zip
        head = ROOT / "pii_spark" / "detect" / "token_head.npz"
        z.write(head, head.relative_to(ROOT), zipfile.ZIP_STORED)
    return out


if __name__ == "__main__":
    path = build(Path(sys.argv[1]) if len(sys.argv) > 1 else None)
    print(path)
