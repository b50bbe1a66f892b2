#!/usr/bin/env python
"""Write the committed wine-shaped CSV fixture (FIXTURES.md §1).

The reference's UCI ``winequality-white.csv`` is not part of this
repository. Where it is absent, the ``csv_scan`` catalog key reads this
fixture instead (``queries.wine_csv``). The fixture has the reference file's
format: ``;``-delimited, a header row with the 12 reference column names
(spaces included), 11 decimal features and an integer ``quality``.

Every value is drawn from ``random.Random(SEED)`` with ``random()`` alone and
written through ``format(round(v, digits), "g")``, so the output is the same
byte for byte on every Python 3. Like the reference file, whole values are
written without a fraction (``45``, not ``45.0``), so each column mixes
integer-looking and decimal cells and type inference must widen to double.

Usage:  python scripts/make_wine_fixture.py [OUT_PATH]
(default: airflow_etl_elt_spark/data/winequality-white-fixture.csv)
"""

from __future__ import annotations

import os
import random
import sys

SEED = 7
ROWS = 500

# (name, low, high, decimals): the min/max of each feature in the reference
# white-wine file, rounded outward.
FEATURES = (
    ("fixed acidity", 3.8, 14.2, 1),
    ("volatile acidity", 0.08, 1.1, 2),
    ("citric acid", 0.0, 1.66, 2),
    ("residual sugar", 0.6, 65.8, 1),
    ("chlorides", 0.009, 0.346, 3),
    ("free sulfur dioxide", 2.0, 289.0, 1),
    ("total sulfur dioxide", 9.0, 440.0, 0),
    ("density", 0.98711, 1.03898, 5),
    ("pH", 2.72, 3.82, 2),
    ("sulphates", 0.22, 1.08, 2),
    ("alcohol", 8.0, 14.2, 1),
)
QUALITY = ("quality", 3, 9)

DEFAULT_OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "airflow_etl_elt_spark",
    "data",
    "winequality-white-fixture.csv",
)


def fixture_text(seed: int = SEED, rows: int = ROWS) -> str:
    """The fixture's full text: header line plus ``rows`` data lines."""
    rng = random.Random(seed)
    _, q_lo, q_hi = QUALITY
    lines = [";".join([name for name, *_ in FEATURES] + [QUALITY[0]])]
    for _ in range(rows):
        cells = [
            format(round(lo + (hi - lo) * rng.random(), digits), "g")
            for _, lo, hi, digits in FEATURES
        ]
        cells.append(str(q_lo + int(rng.random() * (q_hi - q_lo + 1))))
        lines.append(";".join(cells))
    return "\n".join(lines) + "\n"


def main(argv: list[str]) -> None:
    out = argv[1] if len(argv) > 1 else DEFAULT_OUT
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    with open(out, "w", newline="") as f:
        f.write(fixture_text())
    print(out)


if __name__ == "__main__":
    main(sys.argv)
