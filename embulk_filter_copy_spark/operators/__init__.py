"""Large-scale training-data pipeline operators (dedup, similarity search,
sampling) — first-class engine components built Spark-first:
inverted-index joins instead of cross joins, JVM-side hash expressions
instead of Python."""
