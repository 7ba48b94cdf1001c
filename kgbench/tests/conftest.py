import os
import sys

# the benchmark's modules import each other by bare name, as they do when
# run.py is executed as a script
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
