"""Vectorized Arrow-batch kernels — the Spark hot path.

Semantics are defined by the loop-based oracle package; pytest asserts
exact agreement (SURVEY.md §5.2).
"""
