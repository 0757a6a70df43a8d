import os
import sys

# the benchmark's modules import each other as top-level modules, the way
# `python3 perfbench/run.py` puts this directory on sys.path
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
