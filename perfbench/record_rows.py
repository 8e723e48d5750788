"""Record each workload query's row count on a reference tier.

The benchmark's pre-flight compares the row counts its generated
corpora produce against these, so a generator that drifts from the
reference shapes is caught before any number is reported.

    python3 perfbench/record_rows.py SF_DIR    # e.g. the sf0.01 driver tier
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

from workloads import WORKLOADS  # noqa: E402

from skills_vectors_spark import registry  # noqa: E402
from skills_vectors_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1]
    registry.load_all()
    spark = get_spark("perfbench_record_rows")
    try:
        names = sorted({q for qs in WORKLOADS.values() for q in qs})
        rows = {q: registry.QUERIES[q](spark, sf_dir).count() for q in names}
    finally:
        spark.stop()
    out = HERE / "reference_rows.json"
    out.write_text(json.dumps({"tier": Path(sf_dir).name, "rows": rows}, indent=1) + "\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
