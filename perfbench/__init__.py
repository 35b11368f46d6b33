"""spark-pit benchmark (see README.md)."""
