"""mldb_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of MLDB (mldbai/mldb), rebuilt Spark-first.

Nothing here is a port: the reference's C++ execution engine
(columnar chunks, thread pools, hand-rolled sort-merge joins) is
replaced wholesale by Catalyst + Tungsten; this package contributes
the semantics layer (MLDB dialect constructs, virtual dataset
operators, procedures, text/dedup/similarity pipelines) expressed as
DataFrame plans.

Layout (mirrors SURVEY.md §7.1):
  session    — tuned SparkSession factory
  catalog    — named datasets over parquet dirs (testdata or user paths)
  functions/ — scalar function families (SURVEY §2.9)
  operators/ — virtual datasets + procedures (SURVEY §2.1-2.8, §2.13)
  dedup      — exact/minhash/simhash/ngram dedup (beyond-reference)
  similarity — embedding ANN / brute-force cosine top-k
"""

# Driver-process allocator tuning (optimization r10, guide §5): on
# this class of sandboxed kernel a first-touch page fault costs
# ~50µs, and glibc munmaps every >128KB block on free — so every
# large numpy temporary (t-SNE iterates, Gram pair arrays, Arrow
# toPandas buffers) re-faults its pages on EVERY allocation
# (measured: np.arange(3M) = 1.8s cold vs 0.01s on warm pages, and
# the same kernels were 10-30× slower inside the driver than the
# math costs). Raising M_MMAP_THRESHOLD/M_TRIM_THRESHOLD keeps freed
# pages in the process heap, so steady-state driver kernels run on
# warm pages. Pure allocator config — no result is cached; RSS grows
# to the PEAK python working set (bounded by the procedures' hard
# caps) instead of oscillating. Linux/glibc only; silently skipped
# elsewhere.
def _tune_driver_allocator() -> None:
    try:
        import ctypes

        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        libc.mallopt(-3, 1 << 30)  # M_MMAP_THRESHOLD
        libc.mallopt(-1, 1 << 30)  # M_TRIM_THRESHOLD
    except (OSError, AttributeError):  # no glibc, or one without mallopt
        pass


_tune_driver_allocator()

from mldb_spark.session import get_spark  # noqa: E402,F401

__version__ = "0.1.0"
