"""Query implementations, grouped by SURVEY.md §2 section.

Importing this package registers nothing: each module registers its own
keys into debias_spark.registry when it is imported, and the registry
imports a module the first time one of its keys is read.  The key order
(the driver's correctness-check order) is ``registry.KEY_MODULES``.
"""
