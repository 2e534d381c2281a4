"""MLlib-backed procedures and model functions (SURVEY §2.13).

The reference trains models as *procedures* and exposes each trained
model as a named *function* applyable in SQL (classifier
plugins/jml/classifier.cc:1491/1496, kmeans kmeans_interface.cc:389,
tfidf plugins/nlp/tfidf.cc:472, svd plugins/embedding/svd.cc:1023,
probabilizer plugins/jml/probabilizer.cc:292). Here each *_train
returns (model, output datasets) and registers its model in a
`FunctionRegistry`; SQL resolves names there after an MldbContext's own.
"""

from mldb_spark.ml.procedures import (  # noqa: F401
    classifier_test,
    classifier_train,
    kmeans_train,
    pca_train,
    probabilizer_train,
    tfidf_table,
    tfidf_train,
)
from mldb_spark.ml.registry import FunctionRegistry  # noqa: F401
