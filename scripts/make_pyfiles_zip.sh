#!/bin/bash
# Package the engine for spark-submit --py-files (north_rule: "run via
# spark-submit --py-files on a multi-executor cluster").
set -euo pipefail
cd "$(dirname "$0")/.."
rm -f dist/edk_spark.zip
mkdir -p dist
# python stdlib zipfile (no zip binary assumption).  Deterministic:
# sorted entries, a fixed timestamp and mode, so rebuilding from an
# unchanged tree reproduces the committed zip byte for byte.
python3 - <<'EOF'
import zipfile, pathlib
root = pathlib.Path(".")
paths = sorted(root.glob("earth_data_kit_spark/**/*.py")) + [root / "__spark_entry__.py"]
with zipfile.ZipFile("dist/edk_spark.zip", "w", zipfile.ZIP_DEFLATED) as z:
    for p in paths:
        info = zipfile.ZipInfo(p.as_posix(), date_time=(1980, 1, 1, 0, 0, 0))
        info.compress_type = zipfile.ZIP_DEFLATED
        info.external_attr = 0o100644 << 16
        z.writestr(info, p.read_bytes())
print("wrote dist/edk_spark.zip")
EOF
