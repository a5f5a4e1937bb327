"""Vectorized extraction kernel — numpy and pyarrow only, no Spark
or pandas imports.

Everything here operates on whole Arrow batches (all turns of a batch at
once) so the Spark layer never runs per-row Python.
"""
