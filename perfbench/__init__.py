"""flame-spark benchmark (see run.py and README.md)."""
