import sys
from pathlib import Path

# the benchmark's modules are imported by name, as run.py imports them
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
