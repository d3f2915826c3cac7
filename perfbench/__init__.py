"""tera-spark benchmark: see perfbench/README.md."""
