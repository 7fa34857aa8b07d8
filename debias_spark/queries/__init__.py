"""Query implementations, one module per operator family.

A key's module is named for its operator family, which is mostly the
leading word of the key's name (``text_*`` keys live in ``text.py``,
``tpch_*`` in ``tpch.py``).  Small families share the nearest module
(``udf_*``, ``pandas_*``, ``grouped_*``, ``cogroup_*`` and ``udtf_*``
all live in ``python_udf.py``), and ``docs_*`` splits into
``docs_dedup.py`` and ``docs_curation.py``.  ``reference_core.py`` holds
the reference's A-H surface and ``annotate_queries.py`` the annotator
keys.  Inside a module, keys are defined in table order.

Importing this package registers nothing: each module registers its own
keys into debias_spark.registry when it is imported, and the registry
imports a module the first time one of its keys is read.  The key order
(the driver's correctness-check order) is ``registry.KEY_MODULES`` alone.
"""
