import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# the benchmark's modules import each other by name, and the engine from
# the repository root
sys.path[:0] = [HERE, os.path.dirname(HERE)]
