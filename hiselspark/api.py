"""Top-level engine API mirroring the reference's
``hisel.feature_selection.select_features`` (``feature_selection.py:69-105``):
dtype-split the feature columns, run HSIC-Lasso autoselect on the
continuous ones and AMI categorical search on the discrete ones, and
concatenate (categorical first, like the reference)."""
from __future__ import annotations

from dataclasses import dataclass, field
from typing import List, Optional, Sequence

from pyspark.sql import DataFrame

from .categorical import categorical_select
from .selection import SelectionResult, SparkHSICSelector


@dataclass
class HSICLassoParameters:
    """Defaults per reference ``feature_selection.py:38-45`` (the
    preselection MI filter is off: sklearn-free environment, and the
    reference's own default path with ``use_preselection=False`` needs
    none — ``select.py:297-304``)."""
    hsic_threshold: float = 0.0075
    batch_size: int = 9000
    minibatch_size: int = 500
    number_of_epochs: int = 4
    mode: str = "hash"
    order_col: Optional[str] = None
    # reference ``use_preselection``/``mi_threshold``: the ksgmi MI
    # filter, here the distributed histogram estimator (preselect.py)
    use_preselection: bool = False
    mi_threshold: float = 1e-5


@dataclass
class SearchParameters:
    """Defaults per reference ``feature_selection.py:28-34``."""
    num_permutations: Optional[int] = None
    im_ratio: float = 0.05
    max_iter: int = 2
    random_state: Optional[int] = None


@dataclass
class FeatureSelectionResult:
    selected_features: List[str]
    continuous_selection: Optional[SelectionResult]
    categorical_selection: List[str]


_DISCRETE = ("tinyint", "smallint", "int", "bigint", "boolean")
_CONTINUOUS = ("float", "double")


def select_features(
    df: DataFrame,
    feature_cols: Sequence[str],
    target_cols: Sequence[str],
    hsiclasso_parameters: Optional[HSICLassoParameters] = None,
    search_parameters: Optional[SearchParameters] = None,
) -> FeatureSelectionResult:
    hp = hsiclasso_parameters or HSICLassoParameters()
    sp = search_parameters or SearchParameters()
    dtypes = dict(df.dtypes)
    continuous = [c for c in feature_cols if dtypes[c] in _CONTINUOUS]
    discrete = [c for c in feature_cols if dtypes[c] in _DISCRETE]

    cont_result: Optional[SelectionResult] = None
    cont_features: List[str] = []
    if hp.use_preselection and len(continuous) >= 2:
        from .preselect import mi_preselect
        # exact percentile edges: approxQuantile's GK-sketch merge is
        # partition-order dependent; the facade shares the determinism
        # discipline of the standalone mi_preselect gate query so its
        # output is a pure function of the data (twin-verifiable)
        kept, _ = mi_preselect(df, continuous, target_cols,
                               threshold=hp.mi_threshold,
                               exact_edges=True)
        if len(kept) >= 2:
            continuous = kept
    if len(continuous) >= 2:
        sel = SparkHSICSelector(df, continuous, target_cols)
        cont_result = sel.run(
            number_of_features=None,            # autoselect from path
            minibatch_size=hp.minibatch_size,
            mode=hp.mode,
            order_col=hp.order_col,
            batch_size=hp.batch_size,
            epochs=hp.number_of_epochs,
            threshold=hp.hsic_threshold,
        )
        cont_features = cont_result.features

    cat_features: List[str] = []
    if discrete:
        cat_features = categorical_select(
            df, discrete, target_cols,
            num_permutations=sp.num_permutations,
            im_ratio=sp.im_ratio,
            max_iter=sp.max_iter,
            random_state=sp.random_state,
        )

    return FeatureSelectionResult(
        selected_features=cat_features + cont_features,
        continuous_selection=cont_result,
        categorical_selection=cat_features,
    )
