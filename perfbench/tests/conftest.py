"""Put the benchmark's modules and the engine package on the import
path, as ``run.py`` does."""

import os
import sys

_BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _BENCH)
sys.path.append(os.path.dirname(_BENCH))
