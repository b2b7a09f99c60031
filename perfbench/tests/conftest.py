import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
# the benchmark's own modules, then the package of the checkout it sits in
sys.path[:0] = [str(HERE.parent), str(HERE.parents[1])]
