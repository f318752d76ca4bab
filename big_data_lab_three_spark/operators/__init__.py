from big_data_lab_three_spark.operators.relational import (  # noqa: F401
    binarize_label,
    drop_columns,
    label_encode,
    nullify_nonfinite,
    topk,
    union_by_name,
)
from big_data_lab_three_spark.operators.aggregates import (  # noqa: F401
    classification_report,
    confusion_matrix,
    distinct_profile,
    null_profile,
    value_counts,
    zscore,
)
