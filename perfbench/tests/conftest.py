import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
# the benchmark's modules, then the program package at the repository root
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(1, os.path.dirname(os.path.dirname(HERE)))
