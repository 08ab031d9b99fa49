from .fleet import stage_boundary  # noqa: F401
from .gridding import grid_shear  # noqa: F401
from .options import default_options  # noqa: F401
from .shear import shear_from_adcp  # noqa: F401
from .velocity import velocity_from_shear  # noqa: F401
