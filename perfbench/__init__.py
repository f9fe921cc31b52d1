"""Archive-lifecycle benchmark for razulibs_spark (see README.md)."""
