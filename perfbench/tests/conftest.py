import os
import sys

# the benchmark package and the engine it drives live at the repo root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
