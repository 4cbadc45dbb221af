"""Entity-resolution benchmark; the command is ``python3 perfbench/run.py``."""
