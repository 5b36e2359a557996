import os
import sys

# the benchmark imports itself as the ``perfbench`` package from the
# repository root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
