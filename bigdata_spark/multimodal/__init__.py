"""Pure-numpy media codecs: PPM, WAV and PNG (``codecs``) and baseline
JPEG (``jpeg``). No plan or model module imports them."""
