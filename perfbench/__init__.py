"""spark-kg benchmark (see run.py)."""
