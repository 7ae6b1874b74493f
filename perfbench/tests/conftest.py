import sys
from pathlib import Path

# the benchmark package and the engine both import from the repo root
sys.path.insert(0, str(Path(__file__).resolve().parents[2]))
