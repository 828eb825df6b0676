"""Outside-in benchmark for the package: see README.md."""
