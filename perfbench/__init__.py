"""The repo's benchmark; run it with ``python3 perfbench/run.py --help``."""
