from . import hexgrid
