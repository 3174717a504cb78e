"""Make the benchmark modules and the engine importable for its tests:
``python3 -m pytest perfbench/tests -q`` from the root of a checkout."""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]
