"""Scalar function layer.

Everything the reference does with row-wise pandas lambdas
(`transform_column` pyjanitor calls) is expressed here as native Spark
column expressions — JVM-side, whole-stage-codegen'd, no Python on the
hot path. See SURVEY.md §2.8 for the C1–C20 inventory.
"""
