"""information_retrieval_spark — a PySpark-native full-text search engine.

A from-scratch rebuild of the capabilities of the reference Java engine
(verden-kma/information-retrieval, at /root/reference): SPIMI-style
partition-parallel inverted-index construction over a table of
source-code repositories, varbyte gap-compressed posting blocks, and
boolean / positional / joker / BM25-top-k retrieval — expressed as
DataFrame plans that Catalyst can optimize, with numpy/Arrow kernels
only where built-in operators cannot express the semantics.

Reference semantics are documented per-module with file:line citations
into /root/reference (behavioral parity only; no code is ported).
"""

__version__ = "0.1.0"

from . import zipcache as _zipcache

# every Python worker imports the package when it unpickles a package
# kernel; from then on its tasks skip the per-task zip-directory re-read
_zipcache.install()
