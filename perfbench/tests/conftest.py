import sys
from pathlib import Path

# the checkout root, so ``perfbench`` and ``cov_tiles_spark`` import
sys.path.insert(0, str(Path(__file__).resolve().parents[2]))
