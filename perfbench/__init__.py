"""Repository benchmark: see run.py."""

import os

# the repository root: the benchmark runs from it and writes only under it
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
