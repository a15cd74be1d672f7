"""Repository benchmark for the spark_aknn engine; see README.md."""
