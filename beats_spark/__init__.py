"""beats_spark — a PySpark-native re-implementation of the Beats
(elastic/beats, fork jrmolin/beats) shipper pipeline semantics:
harvest → parse → processor-chain → conditional route → per-sink output,
expressed as declarative DataFrame transformations so Catalyst/Tungsten
own the physical plan.

Reference semantics are cited per-module as ``file:line`` paths inside
``/root/reference/`` (read-only snapshot). This is a re-design, not a
port: the reference is a per-event interpreted Go chain; here every
operator is a ``DataFrame -> DataFrame`` transform built from
``pyspark.sql.functions`` columns. The shipped pipeline's parse is
Catalyst expressions too (multiline as a regex split, dissect as the
tokenizer's find loop in string functions), so its plan has no Python
node; the ``dissect`` processor and a config's multiline parser run
the same way, and of the parse functions only
``functions.multiline.multiline_join_col``, which three catalog
queries use, is still a vectorized pandas UDF. Lookup frames held in the driver are
local relations (``lookup.local_frame``), read with no Python worker.
"""

__version__ = "0.1.0"
