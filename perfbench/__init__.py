"""CDC engine benchmark (see run.py)."""
